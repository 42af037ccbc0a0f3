package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.operators.{Curation, Dedup, GraftPersistable, Lsh, TextAnalysis, Tfidf}

/** Structured Streaming operators over the event stream. Each takes a
  * DataFrame that may be batch (`spark.read`) or streaming
  * (`spark.readStream`) with schema `(event_id, ts timestamp, user_id,
  * event_type, value)` — the transforms are identical in both modes, which
  * is the point: one declarative plan, micro-batch or batch execution.
  *
  * Scale notes: all state here is keyed and bounded — watermarks let the
  * state store evict closed windows/sessions, so state size tracks the
  * number of ACTIVE keys, not stream history. That is the property that
  * survives an unbounded stream on a 1000-executor cluster.
  */
object Streams {

  /** Gap-based sessionization with the built-in `session_window` (the
    * streaming twin of [[graft.operators.Relational.sessionize]]): windows
    * merge while events arrive within `gapMinutes`; the watermark closes
    * sessions `watermark` behind the max seen event time and evicts their
    * state. */
  def sessionize(events: DataFrame, gapMinutes: Int = 30, watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(col("user_id"), session_window(col("ts"), s"$gapMinutes minutes").as("w"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(col("user_id"), col("w.start").as("t_start"), col("w.end").as("t_end"),
        col("n_events"), col("sum_value"))

  /** Tumbling-window event-type counts with late-data handling. */
  def windowedTypeCounts(events: DataFrame, windowLen: String = "1 hour",
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(col("w.start").as("w_start"), col("event_type"), col("n"), col("sum_value"))

  /** Streaming WordCount — the reference's job 1
    * (`WordCount.java:125-159`) as an incremental stream: stateless
    * per-batch tokenization (the portable normalizer chain) feeding a
    * streaming aggregation; in Update mode each micro-batch emits the
    * groups it changed. State is one counter per (term, doc_id) — bounded
    * by the corpus vocabulary footprint, not stream length, since
    * re-delivered tokens merge into their existing group. Executed in
    * batch this IS `Tfidf.termCounts ∘ tokenizePortable` (identical plan
    * minus the state store), which is what the oracle checks. */
  def termCounts(docs: DataFrame): DataFrame =
    graft.operators.Tfidf.termCounts(
      graft.operators.Tfidf.tokenizePortable(docs))

  /** Rate-limited ingestion source: Spark's built-in `rate` family emits
    * `(timestamp, value)` at a BOUNDED rows/sec — the ingestion-throttle
    * knob of a production pipeline (an executor's intake stays capped no
    * matter how fast upstream produces, so a backfill can't starve the
    * serving cluster). Values map deterministically to synthetic
    * documents (`doc_id`, 10 zipf-ish words, event time), so every
    * downstream operator in this suite — [[termCounts]],
    * [[streamingDedup]], the near-dup joins — consumes the throttled
    * stream unchanged.
    *
    * `perBatch = Some(n)` switches to the `rate-micro-batch` source
    * (exactly `n` rows per micro-batch, virtual time): the DETERMINISTIC
    * variant tests and demos use; `None` is the wall-clock `rate` source
    * for live throughput work. */
  def rateDocs(spark: SparkSession, rowsPerSecond: Int = 100,
      perBatch: Option[Int] = None): DataFrame = {
    val src = perBatch match {
      case Some(n) => spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", n.toLong)
      case None => spark.readStream.format("rate")
        .option("rowsPerSecond", rowsPerSecond.toLong)
    }
    src.load()
      .select(col("value").as("doc_id"),
        // deterministic pseudo-text: 10 words drawn from a 50-word
        // vocabulary by a mixed congruential walk of the row value. Digits
        // transliterate to letters because the reference tokenizer DROPS
        // digit-bearing words (O5) — "w12" would tokenize to nothing.
        concat_ws(" ", (0 until 10).map(i =>
          concat(lit("w"), translate(
            pmod(col("value") * 31 + lit(i * 7), lit(50)).cast("string"),
            "0123456789", "abcdefghij"))): _*)
          .as("text"),
        col("timestamp").as("ts"))
  }

  /** Stream-static join: enrich a stream with a batch dimension table.
    * The static side is planned per micro-batch (broadcast when small);
    * no state store involved — the scale-friendly way to attach
    * dimensions to an unbounded stream. */
  def enrichWithDim(events: DataFrame, dim: DataFrame, streamKey: String, dimKey: String): DataFrame =
    events.join(org.apache.spark.sql.functions.broadcast(dim),
      col(streamKey) === col(dimKey), "left")

  /** Streaming exact dedup: keep the first occurrence of each content
    * fingerprint. With a watermark the dedup state evicts fingerprints
    * older than the horizon — bounded state on an unbounded stream (the
    * batch twin is [[graft.operators.Dedup.exact]]; an unbounded-state
    * variant would OOM exactly like the reference's reducer buffers).
    * Input schema: (doc_id, ts timestamp, text). */
  def streamingDedup(docs: DataFrame, watermark: String = "1 hour"): DataFrame =
    docs
      .withColumn("fingerprint",
        graft.functions.TextFunctions.contentFingerprint(col("text")))
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("fingerprint")

  /** Streaming decontamination gate — eval-set leakage checked AT INGEST,
    * before a document ever lands in the training store. The benchmark
    * gram set aggregates ONCE (batch side) into a Bloom bitset that embeds
    * in the streaming plan as a literal (the trained-model broadcast idiom
    * of [[graft.operators.Curation.decontaminateBloom]]); each arriving
    * document then scores itself STATELESSLY in the array domain — token
    * array → distinct-gram array → counted Bloom membership, all per-row
    * map work. No explode, no streaming aggregation, no state store: the
    * shape that sustains any ingest rate.
    *
    * Bloom hits are a conservative OVER-estimate (false positives, never
    * false negatives), so `contaminated` can only over-flag — the correct
    * failure direction for a leakage gate; flagged documents get the exact
    * batch re-check ([[graft.operators.Curation.decontaminate]]) offline.
    * Input schema: (doc_id, text, ...); output adds the per-doc gram
    * count, Bloom-hit count, contamination estimate, and 1/0 flag. */
  def streamingDecontaminate(docs: DataFrame, benchToks: DataFrame,
      n: Int = 3, flagRatio: Double = 0.05,
      expectedItems: Long = 1L << 20): DataFrame = {
    import graft.operators.Curation
    streamingDecontaminateWithModel(docs,
      Curation.benchBloomBytes(benchToks, n, expectedItems), n, flagRatio)
  }

  /** The model-split form of [[streamingDecontaminate]] — scores against a
    * PREBUILT benchmark Bloom blob ([[graft.operators.Curation.benchBloomBytes]],
    * a per-snapshot artifact like the dup-window Bloom), so the same
    * stateless per-row scan can serve under the refresh protocol
    * ([[withRefreshingModel]]) when the benchmark suite itself is
    * re-versioned. */
  def streamingDecontaminateWithModel(docs: DataFrame, bloom: Array[Byte],
      n: Int = 3, flagRatio: Double = 0.05): DataFrame = {
    import graft.operators.Curation
    val hits =
      if (bloom == null) lit(0L)
      else size(filter(col("garr"), g =>
        call_function("graft_bloom_contains", lit(bloom), xxhash64(g)))).cast("long")
    docs
      .withColumn("a", Curation.textTokenArray)
      .withColumn("garr", Curation.gramArrayOf(col("a"), n))
      .select(col("doc_id"),
        size(col("garr")).cast("long").as("n_grams"),
        hits.as("n_bloom_hits"))
      .withColumn("contamination_est",
        when(col("n_grams") > 0,
          round(col("n_bloom_hits").cast("double") / col("n_grams"), 9))
          .otherwise(lit(0.0)))
      .withColumn("contaminated",
        (col("contamination_est") >= flagRatio).cast("long"))
  }

  /** Streaming exact-substring exposure gate — "how much of this arriving
    * document verbatim-duplicates the existing corpus", checked AT INGEST
    * against the STORED dup-window index (the
    * `exact_substr_windows_l12` corpus asset of
    * [[graft.operators.ExactSubstr]]): the verified duplicated grams
    * aggregate ONCE (batch side) into a Bloom bitset embedded in the
    * streaming plan as a literal — the same trained-model broadcast idiom
    * as [[streamingDecontaminate]] — and each arriving document scores
    * itself STATELESSLY in the array domain: token array → rolling
    * window-hash kernel → counted Bloom membership over the hash array
    * (no window STRING ever materializes). No explode, no streaming
    * aggregation, no state store.
    *
    * Bloom hits over-estimate (false positives, never false negatives),
    * the correct failure direction for an ingest gate; flagged documents
    * get the exact batch re-check
    * ([[graft.operators.ExactSubstr.spansFromTokens]] over corpus+doc)
    * offline. Note the corpus index is a SNAPSHOT: a new document
    * duplicating another NEW document (never seen in the corpus) is the
    * batch operator's job at the next index refresh, exactly like the
    * near-dup store's cap/eviction trade. Output: (doc_id, n_windows,
    * n_dup_hits, dup_window_frac, flagged). */
  def streamingExactSubstrFlag(docs: DataFrame, dupWindows: DataFrame,
      n: Int = 12, flagRatio: Double = 0.05,
      expectedItems: Long = 1L << 20): DataFrame =
    streamingExactSubstrFlagWithModel(docs,
      dupWindowBloom(dupWindows, n, expectedItems), n, flagRatio)

  /** The trained model side of [[streamingExactSubstrFlag]], built ONCE
    * per index snapshot: a Bloom over the ROLLING window hashes of the
    * verified duplicated grams (each gram re-tokenizes to exactly one
    * `n`-window, so the kernel yields its one hash) — the same 64-bit
    * function the stream side computes per row, so membership needs no
    * gram STRING anywhere. Null when the index is empty.
    *
    * The gram→tokens round-trip (`split(gram, ' ')`) is lossless only
    * under the tokenizer invariant that tokens contain no spaces/empties
    * — true for every gram this engine builds, but
    * `duplicateWindowsFromTokens` accepts arbitrary external token
    * arrays, and a violated round-trip would silently produce mismatched
    * hashes and FALSE NEGATIVES (breaking the gate's one guarantee). So
    * the build THROWS on any gram whose re-split is not exactly `n`
    * tokens, in the same single aggregation pass. Bloom inserts are
    * idempotent set-bit ORs, so no distinct pass is needed. */
  def dupWindowBloom(dupWindows: DataFrame, n: Int,
      expectedItems: Long = 1L << 20): Array[Byte] = {
    val row = dupWindows
      .select(split(col("gram"), " ").as("ts"))
      // wh guarded by the arity check: a bad gram must reach the require
      // below as a counted row, not die earlier in ANSI element_at
      .select(when(size(col("ts")) === n,
          expr(s"element_at(graft_window_hashes(ts, $n), 1)")).as("wh"),
        (size(col("ts")) =!= n).cast("long").as("bad"))
      .agg(expr(s"graft_bloom_agg(wh, ${expectedItems}L)").as("bf"),
        coalesce(sum(col("bad")), lit(0L)).as("n_bad"))
      .head()
    val nBad = row.getAs[Long]("n_bad")
    require(nBad == 0L,
      s"dupWindowBloom: $nBad gram(s) do not round-trip split(gram, ' ') to " +
        s"exactly $n tokens — external token arrays with spaces/empties would " +
        "make the Bloom silently miss true duplicates")
    row.getAs[Array[Byte]]("bf")
  }

  /** [[streamingExactSubstrFlag]] with the Bloom prebuilt (serving shape:
    * the model is a per-snapshot artifact, not a per-batch rebuild). The
    * per-row work is ONE rolling-hash kernel call over the token array
    * plus a Bloom probe per window — no window strings materialize. */
  def streamingExactSubstrFlagWithModel(docs: DataFrame, bloom: Array[Byte],
      n: Int, flagRatio: Double = 0.05): DataFrame = {
    import graft.operators.Curation
    val hits =
      if (bloom == null) lit(0L)
      else size(filter(col("whs"), h =>
        call_function("graft_bloom_contains", lit(bloom), h))).cast("long")
    docs
      .withColumn("a", Curation.textTokenArray)
      .withColumn("whs", expr(s"graft_window_hashes(a, $n)"))
      .select(col("doc_id"),
        size(col("whs")).cast("long").as("n_windows"),
        hits.as("n_dup_hits"))
      .withColumn("dup_window_frac",
        when(col("n_windows") > 0,
          round(col("n_dup_hits").cast("double") / col("n_windows"), 9))
          .otherwise(lit(0.0)))
      .withColumn("flagged",
        (col("dup_window_frac") >= flagRatio).cast("long"))
  }

  /** Paragraph-level ingest dup gate, trained-model side: a Bloom over
    * the xxhash64 of every paragraph block in the corpus snapshot — one
    * batch aggregation pass ([[graft.operators.Paragraphs.paragraphHashesExpr]]
    * is the shared cut+hash spelling, so the stream side can never hash
    * differently). Null when the corpus is empty. Completes the
    * paragraph-dedup family batch → stream the way the dup-window Bloom
    * does for exact-substring dedup. */
  def paragraphDupBloom(corpus: DataFrame, paraTokens: Int = 16,
      expectedItems: Long = 1L << 20): Array[Byte] = {
    import graft.operators.Paragraphs
    corpus
      .select(explode(Paragraphs.paragraphHashesExpr(paraTokens)).as("h"))
      .agg(expr(s"graft_bloom_agg(h, ${expectedItems}L)").as("bf"))
      .head().getAs[Array[Byte]]("bf")
  }

  /** Paragraph dup gate with the Bloom prebuilt (serving shape): each
    * arriving document cuts its own paragraph blocks, hashes them with
    * the SHARED kernel spelling, and counts Bloom membership — stateless
    * per-row map work, no explode, no state store. Over-estimates only
    * (Bloom false positives), the right failure direction for an ingest
    * gate; flagged rows get the exact batch re-check
    * ([[graft.operators.Paragraphs.duplicateParagraphs]]) offline.
    * Output: (doc_id, n_paras, n_dup_hits, dup_para_frac, flagged). */
  def streamingParagraphFlagWithModel(docs: DataFrame, bloom: Array[Byte],
      paraTokens: Int = 16, flagRatio: Double = 0.5): DataFrame = {
    import graft.operators.Paragraphs
    val hits =
      if (bloom == null) lit(0L)
      else size(filter(col("phs"), h =>
        call_function("graft_bloom_contains", lit(bloom), h))).cast("long")
    docs
      .withColumn("phs", Paragraphs.paragraphHashesExpr(paraTokens))
      .select(col("doc_id"),
        size(col("phs")).cast("long").as("n_paras"),
        hits.as("n_dup_hits"))
      .withColumn("dup_para_frac",
        when(col("n_paras") > 0,
          round(col("n_dup_hits").cast("double") / col("n_paras"), 9))
          .otherwise(lit(0.0)))
      .withColumn("flagged",
        (col("dup_para_frac") >= flagRatio).cast("long"))
  }

  /** [[streamingParagraphFlagWithModel]] with the Bloom built inline from
    * a corpus snapshot (batch-mode convenience / spec form). */
  def streamingParagraphFlag(docs: DataFrame, corpus: DataFrame,
      paraTokens: Int = 16, flagRatio: Double = 0.5,
      expectedItems: Long = 1L << 20): DataFrame =
    streamingParagraphFlagWithModel(docs,
      paragraphDupBloom(corpus, paraTokens, expectedItems),
      paraTokens, flagRatio)

  /** [[streamingParagraphFlag]] under the refresh protocol: a corpus drop
    * that re-cuts the paragraph index re-broadcasts the Bloom on the next
    * micro-batch, no stream restart — same loop as the dup-window and
    * decontamination gates. */
  def paragraphGateWithRefresh(docs: DataFrame,
      currentVersion: () => Long, loadModel: () => Array[Byte],
      paraTokens: Int = 16, flagRatio: Double = 0.5,
      checkpointDir: Option[String] = None)(
      sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    withRefreshingModel[Array[Byte]](docs, currentVersion, loadModel,
      (batch, bloom) =>
        streamingParagraphFlagWithModel(batch, bloom, paraTokens, flagRatio),
      checkpointDir)(sink)

  /** Serve a stream against a REFRESHABLE model snapshot — the protocol
    * that closes the batch-index-maintenance → stream-serving loop: the
    * gates above embed their trained blob (dup-window Bloom, decon Bloom)
    * in the streaming plan as a literal, so a corpus drop that rebuilds
    * the stored index leaves a running stream scoring against the stale
    * snapshot until restart. Here the model lives OUTSIDE the plan: each
    * micro-batch first polls `currentVersion` (cheap — a version stamp,
    * not the model), reloads via `loadModel` only when the version moved,
    * then scores the batch with `score` and hands the result (stamped
    * with the serving `index_version`) to `sink`. `foreachBatch` runs
    * sequentially per query, so the swap is race-free; versions only need
    * to CHANGE on rebuild, not be ordered.
    *
    * Scale shape: the poll is once per micro-batch (never per row), the
    * reload is the same bounded model build the batch tier runs, and the
    * scoring plan is whatever `score` builds — for the Bloom gates,
    * stateless per-row map work unchanged. */
  def withRefreshingModel[M](docs: DataFrame,
      currentVersion: () => Long, loadModel: () => M,
      score: (DataFrame, M) => DataFrame,
      checkpointDir: Option[String] = None)(
      sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.StreamingQuery = {
    val held = new java.util.concurrent.atomic.AtomicReference[(Long, M)](
      (currentVersion(), loadModel()))
    val w = docs.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val v = currentVersion()
        if (v != held.get()._1) held.set((v, loadModel()))
        val (ver, model) = held.get()
        // operator-internal persists (e.g. the manifest gate's lazy-pinned
        // stage frames) release when the sink returns — a long-running
        // stream must not accumulate one cache set per micro-batch
        graft.operators.CacheScope {
          sink(score(batch.toDF(), model).withColumn("index_version", lit(ver)),
            batchId)
        }
        ()
      }
      .outputMode(OutputMode.Append)
    checkpointDir.foreach(w.option("checkpointLocation", _))
    w.start()
  }

  /** [[streamingExactSubstrFlag]] under the refresh protocol: rows
    * arriving after a dup-window index rebuild (version bump) score
    * against the NEW Bloom without a stream restart; rows before it keep
    * the old snapshot's verdicts (visible via `index_version`).
    * `loadModel` is typically [[dupWindowBloom]] over the re-read stored
    * index. */
  def exactSubstrGateWithRefresh(docs: DataFrame,
      currentVersion: () => Long, loadModel: () => Array[Byte],
      n: Int = 12, flagRatio: Double = 0.05,
      checkpointDir: Option[String] = None)(
      sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    withRefreshingModel[Array[Byte]](docs, currentVersion, loadModel,
      (batch, bloom) => streamingExactSubstrFlagWithModel(batch, bloom, n, flagRatio),
      checkpointDir)(sink)

  /** [[streamingDecontaminate]] under the refresh protocol: a benchmark
    * suite re-release (new eval set added, a split re-versioned) rebuilds
    * the benchmark Bloom batch-side; rows arriving after the version bump
    * score against the NEW suite without a stream restart — the same
    * maintenance loop as the dup-window gate. `loadModel` is typically
    * [[graft.operators.Curation.benchBloomBytes]] over the re-read
    * benchmark table. */
  def deconGateWithRefresh(docs: DataFrame,
      currentVersion: () => Long, loadModel: () => Array[Byte],
      n: Int = 3, flagRatio: Double = 0.05,
      checkpointDir: Option[String] = None)(
      sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    withRefreshingModel[Array[Byte]](docs, currentVersion, loadModel,
      (batch, bloom) => streamingDecontaminateWithModel(batch, bloom, n, flagRatio),
      checkpointDir)(sink)

  /** Stateless quality-classifier scoring of a document stream — the
    * model-based sibling of the Bloom gates: each row gets the smooth
    * score plus the hard rule label from ONE surface-stats map pass
    * ([[graft.operators.QualityClassifier.scoreRows]] — no sort, no
    * shuffle, no state store, so the shape holds on an unbounded stream).
    * The model argument keeps the snapshot OUTSIDE the plan so the refresh
    * protocol can swap it per micro-batch. */
  def classifierScoreWithModel(docs: DataFrame,
      model: graft.operators.QualityClassifier.Model): DataFrame =
    graft.operators.QualityClassifier.scoreRows(docs, model)

  /** Classifier scoring under the refresh protocol: a batch-side retrain
    * (new corpus drop, recalibrated rules) republishes the 9-row weights
    * asset and bumps its content-derived version stamp
    * ([[graft.operators.QualityClassifier.modelVersion]]); rows arriving
    * after the bump score against the NEW weights without a stream
    * restart — closing train-batch → serve-stream for the MODEL the way
    * [[exactSubstrGateWithRefresh]] closes it for the indexes.
    * `loadModel` is typically `modelFromRows` over the re-read asset. */
  def classifierScoreWithRefresh(docs: DataFrame,
      currentVersion: () => Long,
      loadModel: () => graft.operators.QualityClassifier.Model,
      checkpointDir: Option[String] = None)(
      sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    withRefreshingModel[graft.operators.QualityClassifier.Model](docs,
      currentVersion, loadModel,
      (batch, model) => classifierScoreWithModel(batch, model),
      checkpointDir)(sink)

  /** The contrast-mixing ADMISSION policy snapshot a stream serves:
    * `score` maps an arriving micro-batch (doc_id, source, tokens…) to
    * snapshot-scored rows (doc_id, source, score) — typically
    * [[graft.operators.TextAnalysis.perplexityContrastKn3Heldout]]
    * against the STORED model snapshot, both backoff ladders live —
    * while `dmin`/`dmax` freeze the min–max normalization at the
    * snapshot's stored score range and `rates` is the mixing plan. The
    * whole policy re-prices together on a snapshot rebuild (version
    * bump), exactly like the stored contrast scores themselves. */
  case class ContrastMixPolicy(dmin: Double, dmax: Double,
      rates: Map[String, Double], score: DataFrame => DataFrame)

  /** Stateless contrast-scored admission over snapshot-scored rows — the
    * stream twin of [[graft.operators.Curation.normalizedScoreSourceSample]]
    * serving a FROZEN policy: weight = the score min–max-rescaled against
    * the SNAPSHOT's stored range (clamped to [0, 1] — an arriving
    * document more in-domain than anything the snapshot saw keeps the
    * full source rate; one further out keeps nothing; both single
    * correctly-rounded IEEE ops, oracle-exact), admission = the house
    * md5 coin under rate(source) × weight. Decisions stay VISIBLE
    * (`admitted` flag, never a silent drop — the quota family's audit
    * contract); sources absent from the plan admit nothing. Pure map
    * work: no shuffle, no state store, holds on an unbounded stream. */
  def contrastAdmitWithModel(scored: DataFrame, dmin: Double, dmax: Double,
      rates: Map[String, Double]): DataFrame = {
    val u = conv(substring(md5(col("doc_id").cast("string").cast("binary")), 1, 8),
      16, 10).cast("long").cast("double") / lit(4294967296.0)
    val rate = rates.foldLeft(lit(0.0): Column) { case (acc, (source, r)) =>
      when(col("source") === source, lit(r)).otherwise(acc)
    }
    val wgt =
      if (dmax > dmin)
        least(lit(1.0), greatest(lit(0.0),
          (col("score") - lit(dmin)) / (lit(dmax) - lit(dmin))))
      else lit(1.0)
    scored
      .withColumn("wgt", wgt)
      .withColumn("u", u)
      .withColumn("admitted", (col("u") < rate * col("wgt")).cast("long"))
      .select("doc_id", "source", "score", "wgt", "u", "admitted")
  }

  /** Contrast-scored admission under the refresh protocol: a batch-side
    * snapshot rebuild (new stored scores + model tables) republishes the
    * policy and bumps its version; rows arriving after the bump score
    * and admit against the NEW snapshot without a stream restart —
    * closing train-batch → serve-stream for the MIXING POLICY the way
    * [[classifierScoreWithRefresh]] closes it for the model and
    * [[exactSubstrGateWithRefresh]] for the indexes. */
  def contrastMixGateWithRefresh(docs: DataFrame,
      currentVersion: () => Long, loadPolicy: () => ContrastMixPolicy,
      checkpointDir: Option[String] = None)(
      sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    withRefreshingModel[ContrastMixPolicy](docs, currentVersion, loadPolicy,
      (batch, p) => contrastAdmitWithModel(p.score(batch), p.dmin, p.dmax, p.rates),
      checkpointDir)(sink)

  /** The frozen snapshot stores the at-ingest manifest admission scores
    * against — the same tables the batch incremental manifest probes
    * (fingerprint keepers, the pair-table closure + capped postings +
    * uncapped gram df + kept sizes, the benchmark gram store, the
    * sampled per-source quality thresholds). Grouped so the refresh
    * protocol can swap ALL of a snapshot's stores atomically on one
    * version bump — a half-updated store set would mix two snapshots'
    * semantics inside one admission decision. */
  case class ManifestStores(
      fpStore: DataFrame,
      nearLabels: DataFrame,
      nearPostings: DataFrame,
      nearGramDf: DataFrame,
      nearSizes: DataFrame,
      benchGrams: DataFrame,
      qualityThresholds: DataFrame)

  /** Composed at-ingest manifest ADMISSION for an arriving batch under
    * the snapshot protocol — the streaming sibling of the batch
    * `manifest_incremental` composition, and the SAME code path (the
    * batch registration delegates here, so the DuckDB arrival-order
    * oracle certifies this exact spelling): every curation stage's flag
    * at O(batch) off the frozen stores, assembled into one row per
    * document with the `kept` conjunction.
    *
    * Arrival unit = the scoring call (one micro-batch under
    * [[manifestGateWithRefresh]]): batch-internal repeats elect a
    * first-arrived keeper within the call; a repeat ACROSS micro-batches
    * passes the exact stage until the store is rebuilt and version-bumped
    * (the refresh protocol's append loop). Cross-batch exactness inside
    * one snapshot window is [[streamingDedup]]'s stateful job — this gate
    * stays stateless so its state is the stores, not the stream.
    *
    * Every stage output is lineage-cut (lazyPinned) before the assembly
    * join — the composite otherwise renders each stage's full tree inline
    * (the r13 ~679-exchange plan). Benchmark-split arrivals (`isBenchmark`)
    * update the decon store for the batch's own scoring and are not
    * themselves admitted rows, mirroring the batch family. */
  def manifestAdmission(newDocs: DataFrame, newToks: DataFrame,
      stores: ManifestStores,
      isBenchmark: Column = col("doc_id") % 53 === 0): DataFrame = {
    val exact = Dedup.exactDupFlagsIncremental(stores.fpStore, newDocs)
      .lazyPinned()
    // the near-dup stage consumes the PINNED token arrays (r16):
    // distinctGramRows routes on the `tokens` column, so the batch is not
    // re-tokenized a second time inside this same admission call (the
    // token frame is 1:1 with the batch — tokenArrays keeps token-free
    // docs as empty arrays — so the stage's doc_id universe is unchanged)
    val near = Dedup.nearDupFlagsIncremental(
      stores.nearLabels, stores.nearPostings, stores.nearGramDf,
      stores.nearSizes, newToks)
      .lazyPinned()
    val benchStore = stores.benchGrams.select("gram")
      .unionByName(Curation.gramRowsFromTokens(
        newToks.where(isBenchmark), 3).select("gram"))
    val cont = Curation.decontaminateAgainstGramStore(
        newToks.where(!isBenchmark), benchStore)
      .select(col("doc_id"), col("contaminated").cast("long").as("contaminated"))
      .lazyPinned()
    val lowq = TextAnalysis.lowQualityByStoredThresholds(
      newDocs, stores.qualityThresholds)
      .lazyPinned()
    val nTok = newToks.select(col("doc_id"),
      size(col("tokens")).cast("long").as("n_tokens"))
    newDocs.where(!isBenchmark)
      .select("doc_id", "source")
      .join(exact, "doc_id")
      .join(lowq.select("doc_id", "quality", "low_quality"), "doc_id")
      .join(near, "doc_id")
      .join(cont, Seq("doc_id"), "left")
      .join(nTok, Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        col("quality"), col("exact_dup"), col("near_dup"),
        coalesce(col("contaminated"), lit(0L)).as("contaminated"),
        col("low_quality"))
      .withColumn("kept",
        (col("exact_dup") === 0 && col("near_dup") === 0 &&
          col("contaminated") === 0 && col("low_quality") === 0).cast("long"))
  }

  /** [[manifestAdmission]] tokenizing the arriving batch itself — the
    * at-ingest shape, where no token-array asset exists for rows that
    * just arrived. The live tokenize is PINNED once: the 3-arg form
    * reads `newToks` three times (benchmark gram union, the decon
    * probe, the n_tokens column), and an un-pinned tokenize would
    * re-run the regex pass per reference (measured 3× the batch's
    * tokenize cost at sf0.1). fanOut floors the batch's scan
    * parallelism first — an arriving batch is a small frame, exactly
    * the shape that bins into one split. The pin releases with the
    * micro-batch's [[graft.operators.CacheScope]] on the stream path. */
  def manifestAdmission(newDocs: DataFrame, stores: ManifestStores): DataFrame = {
    val docs = graft.operators.Scaling.fanOut(newDocs)
    manifestAdmission(docs, Tfidf.tokenArrays(docs).lazyPinned(), stores)
  }

  /** The composed manifest admission under the refresh protocol — the
    * at-ingest twin of the batch `manifest_incremental`: each micro-batch
    * scores every curation stage against the CURRENT snapshot stores;
    * an append that rebuilds the stores batch-side republishes them and
    * bumps the version, and rows arriving after the bump are admitted
    * against the new snapshot without a stream restart. Stateless across
    * micro-batches (state lives in the stores), stateful dedup remains
    * [[streamingDedup]]'s job — the house split between snapshot-serving
    * gates and stream state. */
  def manifestGateWithRefresh(docs: DataFrame,
      currentVersion: () => Long, loadStores: () => ManifestStores,
      checkpointDir: Option[String] = None)(
      sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    withRefreshingModel[ManifestStores](docs, currentVersion, loadStores,
      (batch, stores) => manifestAdmission(batch, stores),
      checkpointDir)(sink)

  /** Stream-stream interval join: right rows within
    * `[left.t - lower, left.t + upper]` for the same key. The explicit
    * time bound is what makes this viable on unbounded streams — with both
    * sides watermarked, the state store evicts buffered rows older than
    * watermark+bound, so join state tracks the interval width, not stream
    * history. Executed in batch it is the same plan as a plain range join.
    * Callers pass watermarked inputs for streaming use. */
  def intervalJoin(
      left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      leftTime: String, rightTime: String,
      lower: String = "10 minutes", upper: String = "10 minutes"): DataFrame =
    left.join(right,
      col(leftKey) === col(rightKey) &&
        col(rightTime) >= col(leftTime) - expr(s"INTERVAL $lower") &&
        col(rightTime) <= col(leftTime) + expr(s"INTERVAL $upper"))

  /** Exactly-once-shaped parquet sink: `foreachBatch` writing each
    * micro-batch to a `batch_id=<id>`-keyed directory with overwrite. A
    * replayed batch (failure between write and commit) overwrites its own
    * directory — idempotent, so the sink is effectively exactly-once while
    * staying a plain partitioned parquet layout any batch reader can scan. */
  def parquetSink(df: DataFrame, outDir: String,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    df.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        batch.write.mode("overwrite").parquet(s"$outDir/batch_id=$batchId")
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append)
      .start()

  case class DocBandSig(doc_id: Long, sig: Array[Long], band: Int, band_hash: Long)
  case class NearDupHit(doc_id: Long, dup_of: Long, band: Int, jaccard_est: Double)

  /** Streaming MinHash near-dup detection: per-row OPH signatures
    * ([[graft.operators.Dedup.minhashSigs]] — no shuffle, no state to BUILD
    * a signature; sub-shingle texts are dropped, never paired), banded,
    * then a stateful signature store keyed by (band, band_hash).
    * Each arriving document is compared against the signatures already in
    * its bucket; estimated Jaccard ≥ `threshold` emits a hit against the
    * earlier document.
    *
    * State bounds (the 100 TB-stream properties): per-bucket store is
    * capped at `maxBucket` signatures (deterministic keep-earliest, same
    * policy as the batch LSH cap), and buckets idle past `idleTimeout`
    * are evicted — state tracks recently-active buckets only. A pair
    * colliding in several bands emits once per band; dedup downstream if
    * exact-once pairs matter.
    *
    * THIS OPERATOR IS FOR THE TRUE STREAM ONLY, where each
    * `flatMapGroupsWithState` group is micro-batch-bounded. Running it in
    * BATCH mode would materialize an entire LSH bucket's occurrences in
    * one executor task (`batch.toSeq` over a corpus-bounded group) — and
    * a degenerate bucket of near-identical boilerplate pages is exactly
    * what near-dup detection exists to find, so the hot bucket is the
    * common case, not the corner. The batch shape is [[nearDupsBatch]]
    * (capped-bucket join, identical rows — parity spec in
    * `StreamingSpec`); the general batch pair operator is
    * [[graft.operators.Dedup.minhashPairs]]. */
  def streamingNearDups(
      docs: DataFrame,
      k: Int = 64,
      shingleLen: Int = 5,
      bands: Int = 8,
      threshold: Double = 0.7,
      maxBucket: Int = 64,
      idleTimeout: String = "1 hour"): Dataset[NearDupHit] = {
    import docs.sparkSession.implicits._
    val sigs = Dedup.minhashSigs(docs, k, shingleLen)
      .select(col("doc_id"), col("sig"), Lsh.bandKeys("sig", k, bands))
      .as[DocBandSig]
    sigs
      .groupByKey(s => (s.band, s.band_hash))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.ProcessingTimeTimeout)(
        (key: (Int, Long), batch: Iterator[DocBandSig],
            state: GroupState[List[(Long, Array[Long])]]) => {
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val (stored, hits) = probeStore(key._1, batch.map(d => d.doc_id -> d.sig).toSeq,
              state.getOption.getOrElse(Nil), threshold, maxBucket)
            state.update(stored)
            state.setTimeoutDuration(idleTimeout)
            hits.iterator
          }
        })
  }

  /** One micro-batch of one near-dup store bucket, shared by
    * [[streamingNearDups]] and [[streamingNearDupsEventTime]]: arrivals in
    * `doc_id` order (deterministic within the micro-batch); an id already
    * stored is skipped; every other arrival is estimated against each
    * stored member, emits a hit at Jaccard ≥ `threshold`, and is appended
    * while the store holds fewer than `maxBucket` signatures
    * (keep-earliest). Returns the new store and the hits. */
  private def probeStore(band: Int, arrivals: Seq[(Long, Array[Long])],
      stored: List[(Long, Array[Long])], threshold: Double,
      maxBucket: Int): (List[(Long, Array[Long])], List[NearDupHit]) = {
    var store = stored
    val hits = List.newBuilder[NearDupHit]
    arrivals.sortBy(_._1).foreach { case (id, sig) =>
      if (!store.exists(_._1 == id)) {
        store.foreach { case (earlierId, earlierSig) =>
          val est = graft.functions.MinHash.estimate(earlierSig.toSeq, sig.toSeq)
          if (est >= threshold) hits += NearDupHit(id, earlierId, band, est)
        }
        if (store.size < maxBucket) store = store :+ (id -> sig)
      }
    }
    (store, hits.result())
  }

  /** The near-dup store's BATCH spelling — the scale-safe shape for a
    * full-corpus run of [[streamingNearDups]]'s semantics: the "stored"
    * side of every bucket is [[graft.operators.Lsh.capBuckets]] (first
    * `maxBucket` docs per (band, band_hash), the store's deterministic
    * keep-earliest policy), and each banded row joins against its
    * bucket's stored members with smaller doc_id — never more than
    * `maxBucket` candidates per occurrence, LINEAR in bucket size with a
    * constant cap, where the stateful op in batch mode buffers the whole
    * bucket's rows in one executor heap.
    *
    * The join/window/rejoin all move NARROW (id, band, hash) rows — the
    * k-long signature arrays rejoin only after banding (the
    * [[graft.operators.Dedup.minhashPairs]] shuffle diet). Rows are
    * IDENTICAL to batch-mode [[streamingNearDups]] (parity spec in
    * `StreamingSpec`): there every group arrives at once sorted by
    * doc_id, so "already stored when d arrives" = "among the bucket's
    * first `maxBucket` doc_ids and smaller than d". */
  def nearDupsBatch(
      docs: DataFrame,
      k: Int = 64,
      shingleLen: Int = 5,
      bands: Int = 8,
      threshold: Double = 0.7,
      maxBucket: Int = 64): DataFrame = {
    val bandKeys = Lsh.bandKeys("sig", k, bands)
    // signatures feed the banding and both est-side rejoins — persist or
    // Catalyst recomputes the per-row MinHash scan three times
    val sigs = Dedup.minhashSigs(docs, k, shingleLen).scopedPersist()
    val banded = sigs.select(col("doc_id"), bandKeys)
    val stored = Lsh.capBuckets(banded, "doc_id", maxBucket)
      .select(col("band"), col("band_hash"), col("doc_id").as("dup_of"))
    stored
      .join(banded, Seq("band", "band_hash"))
      .where(col("dup_of") < col("doc_id"))
      .join(sigs.select(col("doc_id"), col("sig")), "doc_id")
      .join(sigs.select(col("doc_id").as("dup_of"), col("sig").as("sig_dup")), "dup_of")
      .withColumn("jaccard_est", expr("graft_sig_match(sig, sig_dup)"))
      .where(col("jaccard_est") >= threshold)
      .select("doc_id", "dup_of", "band", "jaccard_est")
  }

  /** Stream-stream SELF-join near-dup pairs — the symmetric-join
    * alternative to the keyed signature store ([[streamingNearDups]]):
    * band rows derived from the SAME document stream meet on
    * (band, band_hash) under an event-time bound, and the built-in
    * stream-stream join manages all state — each side buffers rows only
    * until the other side's watermark passes the time bound, so state is
    * evicted by the engine, not by hand-rolled timeout code.
    *
    * Semantics vs the store variant: the join is symmetric (BOTH orders of
    * arrival pair up, deduplicated to `doc_a < doc_b`) and the time bound
    * is two-sided (`|ts_b - ts_a| <= horizon`), so it finds near-dups in a
    * sliding corridor of stream time — the shape for "flag re-posts within
    * a day", where the store variant's keep-earliest cap is instead the
    * shape for "dedup against the first occurrence ever". A pair colliding
    * in several bands emits once per band; collapse downstream if
    * exact-once pairs matter.
    *
    * Scale: candidates are band-bucket collisions only (never |corpus|²),
    * per-side state is watermark-bounded to the horizon window, and the
    * signature ride-along is k longs per band row. Input schema:
    * (doc_id, ts timestamp, text). In batch mode the watermarks are
    * no-ops and this is a plain bucketed self-join — the oracle-checkable
    * twin. */
  def nearDupPairsJoin(
      docs: DataFrame,
      k: Int = 64,
      shingleLen: Int = 5,
      bands: Int = 8,
      threshold: Double = 0.7,
      watermarkDelay: String = "10 minutes",
      horizon: String = "1 hour"): DataFrame = {
    val bandKeys = Lsh.bandKeys("sig", k, bands)
    def side(suffix: String): DataFrame =
      Dedup.minhashSigs(docs, k, shingleLen, Seq("doc_id", "ts"))
        .select(col("doc_id"), col("ts"), col("sig"), bandKeys)
        .toDF(s"doc_$suffix", s"ts_$suffix", s"sig_$suffix", s"band_$suffix", s"hash_$suffix")
        .withWatermark(s"ts_$suffix", watermarkDelay)
    side("a").join(side("b"),
        col("band_a") === col("band_b") && col("hash_a") === col("hash_b") &&
          col("doc_a") < col("doc_b") &&
          col("ts_b") >= col("ts_a") - expr(s"INTERVAL $horizon") &&
          col("ts_b") <= col("ts_a") + expr(s"INTERVAL $horizon"))
      .withColumn("jaccard_est", expr("graft_sig_match(sig_a, sig_b)"))
      .where(col("jaccard_est") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("band_a").as("band"),
        col("jaccard_est"))
  }

  case class DocBandSigTs(doc_id: Long, sig: Array[Long], band: Int,
      band_hash: Long, ts: java.sql.Timestamp)

  /** [[streamingNearDups]] with EVENT-TIME state eviction: buckets expire
    * `stateHorizon` past the latest event time they saw, driven by the
    * stream's watermark instead of the executor wall clock. This is the
    * variant a REPLAYED historical stream needs — reprocessing a year of
    * documents at full speed must evict by stream time (a bucket idle for
    * an hour OF STREAM) rather than wall time (nothing would ever evict at
    * replay speed, and state would grow with history). Input schema adds an
    * event-time column: (doc_id, ts timestamp, text). Same store, cap, and
    * emit semantics as the processing-time variant. */
  def streamingNearDupsEventTime(
      docs: DataFrame,
      k: Int = 64,
      shingleLen: Int = 5,
      bands: Int = 8,
      threshold: Double = 0.7,
      maxBucket: Int = 64,
      watermarkDelay: String = "10 minutes",
      stateHorizon: String = "1 hour"): Dataset[NearDupHit] = {
    require(docs.isStreaming, "streamingNearDupsEventTime needs a streaming DataFrame " +
      "(its buckets expire on the watermark); for a batch frame use Streams.nearDupsBatch")
    import docs.sparkSession.implicits._
    val sigs = Dedup.minhashSigs(docs.withWatermark("ts", watermarkDelay), k, shingleLen,
        Seq("doc_id", "ts"))
      .select(col("doc_id"), col("sig"), Lsh.bandKeys("sig", k, bands), col("ts"))
      .as[DocBandSigTs]
    sigs
      .groupByKey(s => (s.band, s.band_hash))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (key: (Int, Long), batch: Iterator[DocBandSigTs],
            state: GroupState[(Long, List[(Long, Array[Long])])]) => {
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val (lastMaxTs, lastStored) = state.getOption.getOrElse((Long.MinValue, Nil))
            val rows = batch.toSeq
            val (stored, hits) = probeStore(key._1, rows.map(d => d.doc_id -> d.sig),
              lastStored, threshold, maxBucket)
            // expire when the WATERMARK (stream time) passes the bucket's
            // latest activity + horizon — wall clock plays no part. The
            // deadline base is monotone (max event time EVER seen, carried
            // in state, never a batch-local max: a late-but-accepted batch
            // must not pull the deadline backward) and clamped to the
            // current watermark (a base at-or-below it would be rejected).
            val maxSeenTs = math.max(lastMaxTs, rows.map(_.ts.getTime).max)
            state.update((maxSeenTs, stored))
            state.setTimeoutTimestamp(
              math.max(maxSeenTs, state.getCurrentWatermarkMs() + 1), stateHorizon)
            hits.iterator
          }
        })
  }

  case class UserEvent(event_id: Long, user_id: Long, event_type: String, value: Double)
  case class UserRunning(user_id: Long, n_events: Long, n_purchases: Long, total_value: Double)

  /** Custom keyed state via `flatMapGroupsWithState`: running per-user
    * counters emitted on every update (Update output — this is an
    * upsert-style aggregate, not an append of immutable rows) — the escape
    * hatch for stateful logic `session_window`/windowed aggs can't express.
    * State per key is O(1), and keys idle past `idleTimeout` are EVICTED via
    * processing-time timeout, so total state tracks recently-active users,
    * not all users ever seen. Trade-off (documented, deliberate): a user
    * returning after eviction restarts from zero; keep lifetime totals in a
    * compacted external sink if they matter. */
  def runningUserStats(events: Dataset[UserEvent],
      idleTimeout: String = "30 minutes"): Dataset[UserRunning] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.ProcessingTimeTimeout)(
        (userId: Long, batch: Iterator[UserEvent], state: GroupState[UserRunning]) => {
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            var cur = state.getOption.getOrElse(UserRunning(userId, 0L, 0L, 0.0))
            batch.foreach { e =>
              cur = UserRunning(
                userId,
                cur.n_events + 1,
                cur.n_purchases + (if (e.event_type == "purchase") 1 else 0),
                cur.total_value + e.value)
            }
            state.update(cur)
            state.setTimeoutDuration(idleTimeout)
            Iterator.single(cur)
          }
        })
  }

  case class QuotaDoc(doc_id: Long, source: String, n_tokens: Long)
  case class QuotaDecision(doc_id: Long, source: String, n_tokens: Long,
      running_tokens: Long, admitted: Long)

  /** Streaming per-source token-budget QUOTA — the ingest-time twin of
    * the batch [[graft.operators.Curation.tokenBudgetSelect]] family: each
    * source admits documents until its token budget is crossed; every
    * arrival stays visible with its decision (`admitted` 1/0) so refusals
    * audit instead of vanishing. Semantics deliberately match the batch
    * selector's GREEDY PREFIX: `running_tokens` accumulates EVERY arrival
    * (refused included) and a document is admitted iff the running total
    * stays within budget — once a source crosses its budget, everything
    * later is refused. (The skip-and-continue variant that back-fills
    * small documents after a big refusal is NOT used: it disagrees with
    * the batch selector, and its sequential state is order-fragile at
    * ingest.)
    *
    * State per source is ONE long counter keyed by source name — bounded
    * by the source vocabulary, so there is NO timeout eviction: a quota
    * that silently resets on idleness would re-admit past its budget.
    *
    * THIS OPERATOR IS FOR THE TRUE STREAM ONLY, where each
    * `flatMapGroupsWithState` group is micro-batch-bounded (admission is
    * inherently serial per source, so a per-batch sort inside the group
    * is the honest cost). Running it in BATCH mode would materialize and
    * sort an entire source's corpus inside one executor task — an
    * O(source) heap buffer on a skewed source. The batch shape is
    * [[tokenQuotaBatch]], a spillable sort-based window producing the
    * IDENTICAL decisions (parity spec in `StreamingSpec`): each group
    * arrives sorted by `doc_id` there, so both spellings are the same
    * per-source running sum. */
  def streamingTokenQuota(docs: DataFrame, budgetPerSource: Long): Dataset[QuotaDecision] = {
    require(budgetPerSource > 0, s"budgetPerSource must be positive, got $budgetPerSource")
    streamingTokenQuotaBy(docs, _ => budgetPerSource.toDouble)
  }

  /** [[streamingTokenQuota]] with PER-SOURCE budgets — the stream twin of
    * the composed batch quota
    * ([[graft.operators.Curation.tokenQuotaMixComposed]]): budgets come
    * from the temperature-mixing plan (`p · targetTokens`, a double), so
    * ingest admission enforces the mixing plan at the stream head.
    * Sources absent from the plan get `defaultBudget` — 0 by default,
    * i.e. an UNPLANNED source admits nothing (refusals stay visible for
    * audit), which is the safe ingest posture: silently admitting an
    * unbudgeted source would skew the mix the plan promised. Decisions
    * are row-identical to the composed batch query on doc_id-sorted
    * groups (parity spec in `StreamingSpec`). */
  def streamingTokenQuotaBudgets(docs: DataFrame, budgets: Map[String, Double],
      defaultBudget: Double = 0.0): Dataset[QuotaDecision] = {
    require(defaultBudget >= 0.0, s"defaultBudget must be >= 0, got $defaultBudget")
    require(budgets.values.forall(b => b >= 0.0 && !b.isNaN),
      "per-source budgets must be finite and >= 0")
    streamingTokenQuotaBy(docs, s => budgets.getOrElse(s, defaultBudget))
  }

  private def streamingTokenQuotaBy(docs: DataFrame,
      budgetOf: String => Double): Dataset[QuotaDecision] = {
    import docs.sparkSession.implicits._
    val rows = docs.select(col("doc_id").cast("long").as("doc_id"),
        col("source"), quotaTokenCol(docs).as("n_tokens"))
      .as[QuotaDoc]
    rows.groupByKey(_.source)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (source: String, batch: Iterator[QuotaDoc], state: GroupState[Long]) => {
          val budget = budgetOf(source)
          var used = state.getOption.getOrElse(0L)
          val out = List.newBuilder[QuotaDecision]
          batch.toSeq.sortBy(_.doc_id).foreach { d =>
            used += d.n_tokens
            out += QuotaDecision(d.doc_id, source, d.n_tokens, used,
              if (used.toDouble <= budget) 1L else 0L)
          }
          state.update(used)
          out.result().iterator
        })
  }

  /** Shared token-count spelling for the quota family: prefer a
    * precomputed `n_tokens` column when the upstream already carries one
    * (an ingest pipeline usually counted tokens earlier in the same
    * scan); otherwise derive it from `text` with the batch selectors'
    * definition (raw whitespace split). */
  private def quotaTokenCol(docs: DataFrame): org.apache.spark.sql.Column =
    if (docs.columns.contains("n_tokens")) col("n_tokens").cast("long")
    else size(split(col("text"), "\\s+")).cast("long")

  /** The per-source token quota's BATCH spelling — the scale-safe shape
    * for scoring a full corpus: one spillable sort-based window
    * (`sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id)`) instead
    * of buffering each source inside a single `flatMapGroupsWithState`
    * task. Semantics are exactly [[streamingTokenQuota]]'s greedy-prefix
    * admission with every arrival kept for audit (`admitted` 1/0, running
    * total accumulates refused rows too), and batch-mode
    * `streamingTokenQuota` — doc_id-sorted groups — produces the
    * identical rows (parity spec in `StreamingSpec`). At 100 TB a
    * source-skewed corpus (one web crawl ≈ 90 % of mass) sorts and spills
    * inside the window's exchange instead of one executor heap. */
  def tokenQuotaBatch(docs: DataFrame, budgetPerSource: Long): DataFrame = {
    require(budgetPerSource > 0, s"budgetPerSource must be positive, got $budgetPerSource")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy("doc_id")
      .rowsBetween(Long.MinValue, 0)
    docs.select(col("doc_id").cast("long").as("doc_id"), col("source"),
        quotaTokenCol(docs).as("n_tokens"))
      .withColumn("running_tokens", sum(col("n_tokens")).over(w))
      .withColumn("admitted",
        (col("running_tokens") <= lit(budgetPerSource)).cast("long"))
  }

  case class GramOcc(gh: Long, doc_id: Long, pos: Long)
  case class SpanHit(doc_id: Long, pos: Long, first_doc: Long, first_pos: Long)

  /** Streaming span-level dedup — the incremental-ingest twin of
    * [[graft.operators.Curation.duplicateSpans]]: a keyed gram store
    * remembers the FIRST occurrence of each `n`-token window (by gram
    * hash) and emits every later occurrence as a duplicated span, so a
    * downstream writer can strip already-seen text from newly ingested
    * documents without re-scanning the corpus.
    *
    * State bounds: exactly ONE (doc_id, pos) pair per gram ever seen
    * recently — constant-size values, and grams idle past `idleTimeout`
    * are evicted (a span recurring after eviction is treated as new: the
    * standard recall-for-state trade of streaming dedup, same policy as
    * [[streamingNearDups]]).
    *
    * THIS OPERATOR IS FOR THE TRUE STREAM ONLY, where each
    * `flatMapGroupsWithState` group is micro-batch-bounded. In BATCH mode
    * the group is ALL corpus occurrences of one gram and `batch.toSeq`
    * buffers them in one executor task — hot grams (license headers, nav
    * boilerplate) are exactly what span dedup exists to find, so that
    * buffer is O(hot-gram occurrences) on a single heap. The batch shape
    * is [[spanDedupBatch]] (min-struct election + mark-back join,
    * identical rows — parity spec in `StreamingSpec`): there "first" is
    * the corpus-wide (doc_id, pos) minimum, which is also what batch-mode
    * arrival order (each group at once, sorted) makes THIS operator emit.
    * In streaming mode "first" is first-ARRIVED. */
  def streamingSpanDedup(docs: DataFrame, n: Int = 5,
      idleTimeout: String = "1 hour"): Dataset[SpanHit] = {
    import docs.sparkSession.implicits._
    val occs = graft.operators.Curation.windowRows(docs, n)
      .select(xxhash64(col("gram")).as("gh"), col("doc_id"), col("pos"))
      .as[GramOcc]
    occs.groupByKey(_.gh)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.ProcessingTimeTimeout)(
        (gh: Long, batch: Iterator[GramOcc], state: GroupState[(Long, Long)]) => {
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            var first = state.getOption
            val hits = List.newBuilder[SpanHit]
            batch.toSeq.sortBy(o => (o.doc_id, o.pos)).foreach { o =>
              first match {
                case None => first = Some((o.doc_id, o.pos))
                case Some((fd, fp)) => hits += SpanHit(o.doc_id, o.pos, fd, fp)
              }
            }
            first.foreach(state.update)
            state.setTimeoutDuration(idleTimeout)
            hits.result().iterator
          }
        })
  }

  /** The gram store's BATCH spelling — the scale-safe shape for a
    * full-corpus run of [[streamingSpanDedup]]'s semantics ("every
    * occurrence except the corpus-first"): elect each gram's first
    * occurrence with a map-side-combinable `min(struct(doc_id, pos))`
    * aggregate, then mark every other occurrence back with an equi-join
    * on the gram hash — a gram occurring d times contributes d narrow
    * rows through the shuffle and d output rows, never a d-row buffer in
    * one task (the [[graft.operators.Curation.duplicateSpansHashed]]
    * shape, which is also this query's oracle definition). Shuffles key
    * on xxhash64(gram) — ~8·n-byte gram strings never cross an exchange.
    * Rows are IDENTICAL to batch-mode [[streamingSpanDedup]] (parity
    * spec in `StreamingSpec`). */
  def spanDedupBatch(docs: DataFrame, n: Int = 5): DataFrame = {
    // windows feed both the election and the mark-back join — persist or
    // the corpus tokenizes and windows twice
    val wins = graft.operators.Curation.windowRows(docs, n)
      .select(xxhash64(col("gram")).as("gh"), col("doc_id"), col("pos"))
      .scopedPersist()
    val firsts = wins.groupBy("gh")
      .agg(min(struct(col("doc_id"), col("pos"))).as("f"), count(lit(1)).as("occ"))
      .where(col("occ") >= 2)
      .select(col("gh"), col("f.doc_id").as("first_doc"), col("f.pos").as("first_pos"))
    wins.join(firsts, "gh")
      .where(col("doc_id") =!= col("first_doc") || col("pos") =!= col("first_pos"))
      .select("doc_id", "pos", "first_doc", "first_pos")
  }

  case class GramOccTs(gh: Long, doc_id: Long, pos: Long, ts: java.sql.Timestamp)

  /** [[streamingSpanDedup]] with EVENT-TIME gram eviction — the replayed-
    * historical-ingest twin, exactly as [[streamingNearDupsEventTime]] is
    * to [[streamingNearDups]]: a gram's stored first-occurrence expires
    * when the WATERMARK passes its last sighting + `stateHorizon`, so
    * reprocessing a year of documents at full speed evicts by stream time
    * (wall-clock idleness never fires at replay speed, and state would
    * otherwise grow with history). Input schema adds an event-time
    * column: (doc_id, ts timestamp, text). */
  def streamingSpanDedupEventTime(docs: DataFrame, n: Int = 5,
      watermarkDelay: String = "10 minutes",
      stateHorizon: String = "1 hour"): Dataset[SpanHit] = {
    import docs.sparkSession.implicits._
    val occs = graft.operators.Curation
      .windowRows(docs.withWatermark("ts", watermarkDelay), n, carry = Seq("ts"))
      .select(xxhash64(col("gram")).as("gh"), col("doc_id"), col("pos"), col("ts"))
      .as[GramOccTs]
    occs.groupByKey(_.gh)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (gh: Long, batch: Iterator[GramOccTs],
            state: GroupState[(Long, Long, Long)]) => {
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            var cur = state.getOption // (first_doc, first_pos, maxSeenTs)
            val hits = List.newBuilder[SpanHit]
            val rows = batch.toSeq.sortBy(o => (o.doc_id, o.pos))
            rows.foreach { o =>
              cur match {
                case None => cur = Some((o.doc_id, o.pos, Long.MinValue))
                case Some((fd, fp, _)) => hits += SpanHit(o.doc_id, o.pos, fd, fp)
              }
            }
            // monotone deadline base + watermark clamp — see
            // streamingNearDupsEventTime for the rationale
            val maxSeenTs = math.max(cur.map(_._3).getOrElse(Long.MinValue),
              rows.map(_.ts.getTime).max)
            cur.foreach { case (fd, fp, _) => state.update((fd, fp, maxSeenTs)) }
            state.setTimeoutTimestamp(
              math.max(maxSeenTs, state.getCurrentWatermarkMs() + 1), stateHorizon)
            hits.result().iterator
          }
        })
  }
}
