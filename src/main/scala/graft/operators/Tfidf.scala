package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Corpus-wide TF-IDF scoring — the reference's entire query capability
  * (`/root/reference/src/TfidfMapReduce.java:36-100`, a chain of 4 MapReduce
  * jobs with 4 HDFS materializations) re-expressed as ONE lazy Catalyst plan.
  *
  * Dataflow (SURVEY.md §3.4):
  * {{{
  * docs → tokenize → termCounts → ⨝ docTotals ⨝ docFreq → score → rank
  * }}}
  *
  * Scale design (100 TB stance, SURVEY.md §7.1 M3):
  *  - `docTotals`/`docFreq` are `groupBy().agg()` + equi-join back, NOT
  *    `Window.partitionBy` — a window over `partitionBy(term)` puts every
  *    occurrence of a stop-word into a single partition (unbounded skew);
  *    shuffled hash aggregation partial-aggregates map-side and AQE's skew
  *    handling covers the join. (The reference's job-2/job-3 reducers buffer
  *    whole groups in ArrayLists/HashMaps — `CountTF.java:92-99`,
  *    `CalcTFIDF.java:111-119` — an OOM at scale; Spark's agg/join spill.)
  *  - All three aggregates consume the SAME shuffle of `termCounts`
  *    (`groupBy(term, doc_id)`), so Catalyst reuses the exchange instead of
  *    re-tokenizing (visible as `ReusedExchange` in `.explain`).
  *  - The only driver-side scalar is `docs.count()` (= the reference's
  *    `fs.listStatus(input).length`, `TfidfMapReduce.java:47-52`): N counts
  *    ALL documents, including ones whose tokens are all filtered out.
  *  - No combiner in the reference's job 1 (`WordCount.java:149-159`) meant
  *    every raw 1 crossed the shuffle; `HashAggregateExec` partial
  *    aggregation fixes that for free.
  */
object Tfidf {

  /** Tokenize with the EXACT reference normalizer chain
    * (`WordCount.java:61-100`): whitespace-split, normalize each token
    * (digit-drop → entity decode → tag strip → edge trim → lower), re-split
    * (entity decode can introduce spaces), drop empties.
    * Output: `(doc_id, term)` — one row per token occurrence.
    */
  def tokenize(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    Scaling.fanOut(docs.select(col(idCol).as("doc_id"), col(textCol)))
      .select(col("doc_id"), explode(split(col(textCol), "\\s+")).as("raw"))
      .select(col("doc_id"),
        explode(split(TextFunctions.standardizeToken(col("raw")), "\\s+")).as("term"))
      .where(length(col("term")) > 0)

  /** Oracle-portable tokenizer (FIXTURES.md §4): whitespace-split, drop
    * tokens containing a digit, lowercase, trim non-`[a-z]` from both ends,
    * drop empties. Spelled identically in DuckDB (RE2) by every
    * oracle-checked query. */
  def tokenizePortable(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    Scaling.fanOut(docs.select(col(idCol).as("doc_id"), col(textCol)))
      .select(col("doc_id"), explode(split(col(textCol), "\\s+")).as("raw"))
      .where(!col("raw").rlike("[0-9]"))
      .select(col("doc_id"), TextFunctions.portableNormalize(col("raw")).as("term"))
      .where(col("term") =!= "")

  /** Position-preserving portable token ARRAY per document:
    * `(doc_id, tokens: array<string>)` — the same token stream as
    * [[tokenizePortable]] (identical filter → normalize → drop-empty
    * chain, applied in the array domain), kept assembled so every
    * order-sensitive consumer (n-gram windows, bigram adjacency) can
    * slice arrays instead of re-tokenizing or re-assembling exploded rows.
    *
    * This is the build expression of the shared token-position corpus
    * asset: tokenization (the regex-heavy step) runs ONCE per dataset and
    * the array form derives term counts (explode + groupBy), span windows
    * (per-row slicing) and adjacency pairs (per-row zip) without a per-doc
    * reassembly shuffle that a flat `(doc_id, pos, term)` layout would
    * force on the window/adjacency consumers. */
  def tokenArrays(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    Scaling.fanOut(docs.select(col(idCol).as("doc_id"), col(textCol).as("text")))
      .select(col("doc_id"),
        filter(
          transform(
            filter(split(col("text"), "\\s+"), t => !t.rlike("[0-9]")),
            t => TextFunctions.portableNormalize(t)),
          t => t =!= "").as("tokens"))

  /** O11: count per (term, doc) — `WordCount.java:125-138`.
    * Partial-aggregates map-side (the shuffle carries pre-combined counts). */
  def termCounts(tokens: DataFrame): DataFrame =
    tokens.groupBy("term", "doc_id").agg(count(lit(1)).as("cnt"))

  /** O14: per-document token total — the reference's job 2 regroup-re-emit
    * (`CountTF.java:87-110`), as a plain aggregation to be joined back. */
  def docTotals(termCounts: DataFrame): DataFrame =
    termCounts.groupBy("doc_id").agg(sum("cnt").as("doc_total"))

  /** O15: per-term document frequency — the reference's job 3 HashSet
    * counting (`CalcTFIDF.java:109-123`). (term, doc_id) is unique after
    * [[termCounts]], so a plain count IS the distinct document count. */
  def docFreq(termCounts: DataFrame): DataFrame =
    termCounts.groupBy("term").agg(count(lit(1)).as("df"))

  /** O16–O18: tf = cnt/doc_total, idf = ln(N/df), tfidf = tf·idf
    * (`CalcTFIDF.java:123-132`; Spark's `log` is natural log like
    * `Math.log`). N must count ALL docs (O2 semantics).
    * `smoothIdf` switches to the sklearn-style variant
    * `ln((1+N)/(1+df)) + 1` — never zero, no div-by-zero on unseen terms —
    * for users migrating pipelines that expect it. */
  def score(termCounts: DataFrame, totals: DataFrame, dfreq: DataFrame, totalDocs: Long,
      smoothIdf: Boolean = false): DataFrame = {
    val idf =
      if (smoothIdf) log(lit(1.0 + totalDocs) / (col("df") + lit(1.0))) + lit(1.0)
      else log(lit(totalDocs.toDouble) / col("df"))
    termCounts
      .join(totals, "doc_id")
      .join(dfreq, "term")
      .withColumn("tf", col("cnt").cast("double") / col("doc_total"))
      .withColumn("idf", idf)
      .withColumn("tfidf", col("tf") * col("idf"))
  }

  /** Full pipeline: docs(doc_id, text) → scored (term, doc_id, cnt,
    * doc_total, df, tf, idf, tfidf), unordered (rank separately — most
    * consumers want top-k, not a total order). */
  def pipeline(docs: DataFrame, portable: Boolean = false): DataFrame =
    pipeline(docs, docs.count(), portable)

  /** Pipeline with the corpus cardinality supplied by the caller — needed
    * when `docs` rows are not 1:1 with documents (e.g. the raw text-dir
    * source is line-based and empty FILES still count toward N, matching
    * the reference's `fs.listStatus(input).length`,
    * `TfidfMapReduce.java:47-52`). */
  def pipeline(docs: DataFrame, totalDocs: Long, portable: Boolean): DataFrame = {
    val toks = if (portable) tokenizePortable(docs) else tokenize(docs)
    // termCounts feeds three consumers (score, docTotals, docFreq); column
    // pruning specializes each branch's subplan, defeating exchange reuse,
    // so without a persist Catalyst would scan + tokenize the corpus three
    // times. Persisting the post-aggregation counts (≪ raw tokens: one row
    // per distinct (term, doc)) trades one spillable cache write for two
    // full tokenize passes — the same call a 100 TB pipeline makes by
    // materializing term_counts as an intermediate table.
    pipelineFromCounts(termCounts(toks).scopedPersist(), totalDocs)
  }

  /** Incremental index maintenance: merge a new corpus shard's term counts
    * into an existing term-counts table — the production "append a batch"
    * path that updates the materialized intermediate instead of
    * re-tokenizing the whole corpus. Counts are additive per (term,
    * doc_id) ([[docTotals]]/[[docFreq]] then derive from the merged table,
    * so df and totals need no separate maintenance); with disjoint doc_id
    * sets the merge is a pure concatenation and the groupBy collapses
    * nothing, but the sum also makes RE-ingesting a doc's tokens additive
    * rather than wrong. One narrow shuffle of (term, doc_id, cnt) rows. */
  def mergeCounts(existing: DataFrame, delta: DataFrame): DataFrame =
    existing.unionByName(delta)
      .groupBy("term", "doc_id").agg(sum("cnt").as("cnt"))

  /** [[pipeline]] over a PREBUILT `(term, doc_id, cnt)` table — the
    * materialized term-counts intermediate a production pipeline stores
    * once and scores many times. Identical math and output to the
    * docs-based form; the caller owns the counts' materialization (a
    * parquet-backed asset needs none, a lazy frame should be persisted
    * since three aggregations consume it). */
  def pipelineFromCounts(tc: DataFrame, totalDocs: Long,
      smoothIdf: Boolean = false): DataFrame =
    score(tc, docTotals(tc), docFreq(tc), totalDocs, smoothIdf)
      .select("term", "doc_id", "cnt", "doc_total", "df", "tf", "idf", "tfidf")

  /** O19 generalized: `SortByValue` as a reusable operator
    * (`SortByValue.java:17-22` documents it as a generic desc-by-value
    * sorter). Deterministic tiebreakers added (the reference's tie order is
    * arbitrary, `SortByValue.java:90-95`). Range-partitioned parallel sort —
    * not the reference's single reducer. */
  def rankByValue(df: DataFrame, valueCol: String, tiebreak: Seq[String]): DataFrame =
    df.orderBy(col(valueCol).desc +: tiebreak.map(col(_).asc): _*)

  /** Top-k by value: plans as `TakeOrderedAndProject` (per-partition heaps +
    * driver merge of k rows) instead of a full global sort — the scale-sane
    * form of the reference's job 4 for ranking queries. */
  def topKByValue(df: DataFrame, valueCol: String, k: Int, tiebreak: Seq[String]): DataFrame =
    rankByValue(df, valueCol, tiebreak).limit(k)

  /** "More like this": rank documents by cosine similarity of
    * L2-normalized tf·idf vectors against ONE query document — the classic
    * related-documents consumer of a TF-IDF index. Scale shape: the query
    * vector is a few hundred (term, weight) rows broadcast against the
    * corpus side, which the shared-term join prunes to rows whose term the
    * query contains — never a |corpus|² comparison. Weights round to 9
    * before the dot product (identical doubles both engines) and the
    * per-doc sum is decimal-routed, so the ranking is engine-exact. */
  def moreLikeThis(docs: DataFrame, queryDocId: Long, k: Int = 10): DataFrame =
    moreLikeThisFromCounts(termCounts(tokenizePortable(docs)).scopedPersist(),
      docs.count(), queryDocId, k)

  /** [[moreLikeThis]] over a prebuilt term-counts table + corpus size. */
  def moreLikeThisFromCounts(tc: DataFrame, totalDocs: Long, queryDocId: Long,
      k: Int = 10): DataFrame = {
    val scored = pipelineFromCounts(tc, totalDocs)
      .select(col("term"), col("doc_id"), round(col("tfidf"), 9).as("tfidf_r"))
      .scopedPersist()
    val norms = scored.groupBy("doc_id")
      .agg(sqrt(sum((col("tfidf_r") * col("tfidf_r")).cast("decimal(28,14)"))
        .cast("double")).as("l2"))
    val unit = scored.join(norms, "doc_id")
      .select(col("term"), col("doc_id"),
        round(col("tfidf_r") / col("l2"), 9).as("w"))
    val q = unit.where(col("doc_id") === queryDocId)
      .select(col("term"), col("w").as("qw"))
    topKByValue(
      unit.where(col("doc_id") =!= queryDocId)
        .join(broadcast(q), "term")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_shared_terms"),
          round(sum((col("w") * col("qw")).cast("decimal(28,14)")).cast("double"), 9)
            .as("cos"))
        .select("doc_id", "n_shared_terms", "cos"),
      "cos", k, Seq("doc_id"))
  }

  /** Driver-visible quality gate for the approximate document-frequency
    * sketch (mirrors `Similarity.annRecallGate` / `Dedup.sketchQualityGate`
    * — the last sketch without one): joins `approx_count_distinct(doc_id,
    * rsd)` per term against the exact df and THROWS if the max relative
    * error exceeds `maxRelErr`, so an HLL regression (or an rsd mis-tune)
    * surfaces as a hard driver `err` instead of a silently-passing
    * rows-only check. Returns a one-row error report.
    *
    * `rsd = 0.05` (the `approx_count_distinct` default) is deliberate: the
    * gate's bar is 10 % max-rel-err, which 5 %-rsd sketches (~2¹⁰ registers)
    * detect just as hard as 1 %-rsd ones (~2¹⁴ registers, 16× the per-GROUP
    * memory — with one HLL buffer per TERM, that sizing dominated a whole
    * bench round). Any sketch-code regression still blows far past 10 %. */
  def dfApproxGate(docs: DataFrame, rsd: Double = 0.05,
      maxRelErr: Double = 0.1,
      precomputedCounts: Option[DataFrame] = None): DataFrame = {
    val ownCounts = precomputedCounts.isEmpty
    val tc = precomputedCounts.getOrElse(
      termCounts(tokenizePortable(docs)).scopedPersist())
    val exact = tc.groupBy("term").agg(count(lit(1)).as("df"))
    val approx = tc.groupBy("term")
      .agg(approx_count_distinct(col("doc_id"), rsd).as("df_approx"))
    val report = exact.join(approx, "term")
      .select((abs(col("df_approx") - col("df")).cast("double") / col("df"))
        .as("rel_err"))
      .agg(count(lit(1)).as("n_terms"),
        round(max("rel_err"), 9).as("max_rel_err"),
        round(avg("rel_err"), 9).as("avg_rel_err"))
    // only the internally-built frame is ours to release — unpersisting a
    // CALLER-supplied shared frame would silently drop their cache
    val row = try report.head() finally { if (ownCounts) tc.unpersist() }
    // empty-corpus fail-fast: with zero terms max(rel_err) is null and the
    // gate would NPE instead of reporting — mirror sketchQualityGate's
    // nTruth > 0 require
    require(row.getLong(0) > 0,
      "df gate has no terms — corpus unsuitable for a sketch-quality check")
    require(row.getDouble(1) <= maxRelErr,
      f"df sketch max relative error ${row.getDouble(1)}%.4f exceeds gate $maxRelErr%.2f " +
        f"(rsd=$rsd, ${row.getLong(0)} terms)")
    // the report is ONE already-collected row — return it as a literal frame
    // so nothing downstream re-runs the two corpus aggregations
    docs.sparkSession.createDataFrame(
      java.util.List.of(row), report.schema)
  }

  /** Driver-visible quality gate for a count-min-sketch over term
    * occurrence counts — the heavy-hitters sketch that answers "how often
    * does THIS term appear" on a 100 TB corpus without a rescan
    * (completing the sketch family: HLL df, t-digest percentiles, Bloom
    * membership, CMS point frequencies). One distributed pass builds the
    * sketch (map-side partial merge, one binary blob to the driver — a
    * trained-model-sized collect like the PQ codebooks); the gate then
    * probes it for the exact top-`k` terms and THROWS if any estimate
    * falls outside `maxRelErr` of the exact count. CMS overestimates only
    * (collisions add), so the check is one-sided by construction — a
    * negative error means the sketch is corrupt, not just loose. Returns
    * a one-row report. */
  def cmsFrequencyGate(tc: DataFrame, k: Int = 20, eps: Double = 0.0001,
      confidence: Double = 0.99, maxRelErr: Double = 0.1): DataFrame = {
    val freq = tc.groupBy("term").agg(sum("cnt").as("freq"))
    val top = freq.orderBy(col("freq").desc, col("term").asc).limit(k)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    require(top.nonEmpty, "CMS gate has no terms — corpus unsuitable")
    val sketchBytes = cmsSketchFrame(tc, eps, confidence)
      .head().getAs[Array[Byte]](0)
    val cms = org.apache.spark.util.sketch.CountMinSketch.readFrom(
      new java.io.ByteArrayInputStream(sketchBytes))
    val errs = top.map { case (term, exact) =>
      (cms.estimateCount(term) - exact).toDouble / exact
    }
    errs.zip(top).foreach { case (e, (term, exact)) =>
      require(e >= 0.0,
        s"CMS undercounts '$term' ($exact + ${math.round(e * exact)}) — sketch corrupt")
      require(e <= maxRelErr,
        f"CMS estimate for '$term' off by ${e * 100}%.2f%% (> ${maxRelErr * 100}%.0f%%, " +
          f"eps=$eps, k=$k)")
    }
    val spark = tc.sparkSession
    import spark.implicits._
    Seq((top.length.toLong,
      BigDecimal(errs.max).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble,
      BigDecimal(errs.sum / errs.length).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble,
      cms.totalCount()))
      .toDF("n_checked", "max_rel_err", "avg_rel_err", "sketch_total")
  }

  /** One-row frame holding the serialized occurrence-weighted CMS over a
    * term-counts table — [[graft.functions.CmsWeightedAgg]] adds each
    * term with its count directly (`CountMinSketch.add(term, cnt)`), so
    * the pre-aggregated counts feed the sketch with NO re-expansion of
    * the token stream (the former `explode(array_repeat(term, cnt))`
    * materialized every occurrence and silently capped cnt at
    * Int.MaxValue). Exposed for the plan spec: the build must contain no
    * Generate (explode) node. */
  private[graft] def cmsSketchFrame(tc: DataFrame, eps: Double,
      confidence: Double): DataFrame = {
    val cmsAgg = udaf(new graft.functions.CmsWeightedAgg(eps, confidence, 42))
    tc.select(col("term"), col("cnt").cast("long").as("cnt"))
      .agg(cmsAgg(col("term"), col("cnt")).as("cms"))
  }

  /** Per-document keyword extraction: the top-`k` terms of each document by
    * tf·idf — the classic "what is this document about" consumer of the
    * index. Ranks by the ROUNDED score so ties (and therefore `row_number`)
    * resolve identically in both engines. The window partitions by doc_id:
    * per-partition cardinality is ONE document's vocabulary (bounded by doc
    * length), so unlike a term-partitioned window there is no skew at
    * corpus scale — every document ranks its own terms independently. */
  def keywordsPerDoc(docs: DataFrame, k: Int = 5): DataFrame =
    keywordsPerDocFromCounts(termCounts(tokenizePortable(docs)).scopedPersist(),
      docs.count(), k)

  /** Top-`k` tf-idf keywords for ONLY the `probes` documents
    * `(q_doc)` → `(q_doc, term)` — the self-retrieval eval's keyword side.
    * Row-identical to [[keywordsPerDocFromCounts]] semi-joined to the
    * probe set (spec-pinned): the ranking window partitions by doc_id, a
    * document's tfidf depends only on its OWN counts (cnt, doc_total),
    * the CORPUS-wide df and totalDocs — so restricting the scored rows
    * to probe docs BEFORE the window computes the identical keyword rows
    * at probes/corpus of the work (the former spelling ranked keywords
    * for every document and threw away all but ≤ maxProbes of them: the
    * single most expensive subtree of the eval at sf0.1). df still
    * aggregates over the FULL counts table, never the restriction. */
  private[graft] def probeKeywordsFromCounts(tc: DataFrame, totalDocs: Long,
      probes: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("doc_id").orderBy(col("tfidf_r").desc, col("term").asc)
    val tcProbes = tc.join(broadcast(probes),
      col("doc_id") === col("q_doc"), "left_semi")
    score(tcProbes, docTotals(tcProbes), docFreq(tc), totalDocs)
      .select(col("doc_id"), col("term"), round(col("tfidf"), 9).as("tfidf_r"))
      .withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= k)
      .select(col("doc_id").as("q_doc"), col("term"))
  }

  /** [[keywordsPerDoc]] over a prebuilt term-counts table + corpus size. */
  def keywordsPerDocFromCounts(tc: DataFrame, totalDocs: Long, k: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("doc_id").orderBy(col("tfidf_r").desc, col("term").asc)
    pipelineFromCounts(tc, totalDocs)
      .select(col("doc_id"), col("term"), round(col("tfidf"), 9).as("tfidf_r"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .where(col("rnk") <= k)
      .select(col("doc_id"), col("rnk"), col("term"), col("tfidf_r").as("tfidf"))
      .orderBy("doc_id", "rnk")
  }

  /** BM25 scoring (Okapi, with Lucene's `+1` idf variant — always
    * positive): the modern successor to the reference's plain tf·idf for
    * ranked retrieval, over the identical aggregation dataflow
    * ([[termCounts]] → [[docTotals]]/[[docFreq]] → per-row math):
    * {{{
    * idf   = ln((N − df + 0.5) / (df + 0.5) + 1)
    * score = idf · cnt·(k1+1) / (cnt + k1·(1 − b + b·doc_total/avgdl))
    * }}}
    * `avgdl` = totalTokens / N over ALL documents (token-less docs count in
    * N with length 0, consistent with the reference's O2 semantics). Both
    * scalars are the pipeline's only driver-side actions.
    *
    * Float parity: every constant appears as the same decimal literal and
    * the same parenthesization in the DuckDB oracle, so each engine
    * performs the identical IEEE operation sequence; `ln` outputs round
    * to 9 before use, the final score rounds to 9. Input: a
    * [[termCounts]] table and the corpus size `n`. */
  def bm25FromCounts(tc: DataFrame, n: Long, k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    val totals = docTotals(tc)
    val totalTokens = totals.agg(coalesce(sum("doc_total"), lit(0L))).head().getLong(0)
    val avgdl = totalTokens.toDouble / math.max(1L, n)
    tc.join(totals, "doc_id").join(docFreq(tc), "term")
      .withColumn("idf_bm25", round(log(
        (lit(n.toDouble) - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0)), 9))
      .withColumn("score", round(
        col("idf_bm25") * (col("cnt") * (lit(k1) + lit(1.0))) /
          (col("cnt") + lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("doc_total") / lit(avgdl))),
        9))
      .select("term", "doc_id", "cnt", "doc_total", "df", "idf_bm25", "score")
  }

  /** Self-retrieval evaluation — the intrinsic search-quality check a
    * pipeline runs on its index: every probe document queries the corpus
    * with its own top-`kwPerDoc` tf-idf keywords and records the BM25 rank
    * of ITSELF (rank 1 = the index retrieves the document its keywords
    * describe; `rr` = 1/rank aggregates to MRR). Probes are the
    * deterministic `doc_id % probeMod == 0` slice.
    *
    * Scale shape: the probe set is CAPPED at `maxProbes` (the first
    * eligible ids — an MRR estimate converges with a fixed sample, so
    * probe count must NOT grow with the corpus: an uncapped `% probeMod`
    * slice makes total work probes×postings ≈ quadratic when the
    * vocabulary is small relative to the corpus, which the sf1 rehearsal
    * measured as 23× cost at 10× data). With the cap, work is
    * maxProbes × posting length — linear in the corpus. Keywords are
    * high-tfidf terms, so on realistic vocabularies the posting lists are
    * short as well. Score sums route through DECIMAL (order-free), ranks
    * tiebreak on doc_id. */
  def selfRetrievalEvalFromCounts(tc: DataFrame, totalDocs: Long,
      probeMod: Long = 10L, kwPerDoc: Int = 3, maxProbes: Int = 500,
      // prebuilt BM25 score table (the stored index artifact) — the eval
      // then reads postings instead of re-scoring the corpus
      prebuiltScores: Option[DataFrame] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scores = prebuiltScores match {
      case Some(ps) =>
        // CALLER CONTRACT: `ps` must already be well-partitioned (and
        // ideally cached). A stored postings table compresses so hard
        // (narrow numeric rows, small vocab) that a raw parquet scan can
        // bin into ONE task (file-size partitioning with the 4 MB open
        // cost), serializing the probes×postings fan-out below — but the
        // round-robin spread that fixes it belongs to the SERVED INDEX,
        // not to this plan: a per-execution `repartition` here re-paid
        // the postings shuffle on every warm query (r6: warm 15.7 s >
        // cold 9.4 s). [[graft.SparkEntry]] passes a spread+persisted
        // frame, so warm serving is exchange-free. (Round-robin, not
        // term-keyed: the keyword join is a broadcast, so any posting
        // row can process anywhere; term-keyed funnels the work through
        // the handful of distinct high-tfidf keyword terms — measured
        // 31 s warm vs wide at sf1; unpartitioned single-task 52 s cold.)
        ps.select("term", "doc_id", "score")
      case None => bm25FromCounts(tc, totalDocs).select("term", "doc_id", "score")
    }
    val probes = tc.select("doc_id").distinct()
      .where(col("doc_id") % probeMod === 0)
      .orderBy("doc_id").limit(maxProbes)
      .select(col("doc_id").as("q_doc"))
    val kws = probeKeywordsFromCounts(tc, totalDocs, probes, kwPerDoc)
    // BROADCAST THE KEYWORDS, STREAM THE POSTINGS — spelled explicitly:
    // with a stored score table the optimizer's stats say "broadcast the
    // (small file) postings instead", which streams the 1500 keyword rows
    // through the probes×postings fan-out (measured 6× slower at sf0.1,
    // and at 100 TB broadcasting postings is impossible outright).
    // Keyword side is maxProbes×kwPerDoc rows — always the broadcast side.
    val pairScores = scores.join(broadcast(kws), "term")
      .groupBy("q_doc", "doc_id")
      .agg(round(sum(col("score").cast("decimal(28,14)")).cast("double"), 9).as("score"))
      .scopedPersist()
    // Populate the persist with ONE pass before its two consumers race:
    // the self-score BROADCAST build (a separate exchange thread) and the
    // final counting probe otherwise both hit the un-materialized cache
    // simultaneously and each execute the full probes×postings fan-out
    // (measured: two concurrent ~9 s jobs running the identical subtree
    // at sf0.1 — the lazy pin de-duplicates storage, not computation).
    pairScores.count()
    // RANK WITHOUT SORTING: the eval needs only the rank of the SELF pair,
    // which is 1 + |{candidates scoring strictly better, ties to the lower
    // doc_id}| — a broadcast of the ≤ maxProbes self-scores plus one
    // counting aggregate. The former ranking window sorted EVERY
    // (probe, candidate) pair per probe (probes × corpus rows at a small
    // vocabulary — 25M sorted rows at sf1, the #1 rehearsal cost); the
    // count formulation scans the same pairs once, exactly reproducing
    // row_number's (score DESC, doc_id ASC) placement.
    val selfScores = pairScores.where(col("q_doc") === col("doc_id"))
      .select(col("q_doc"), col("score").as("self_score"))
    pairScores.join(broadcast(selfScores), "q_doc")
      .groupBy("q_doc")
      .agg(
        (sum(when(col("score") > col("self_score") ||
            (col("score") === col("self_score") && col("doc_id") < col("q_doc")),
          1L).otherwise(0L)) + lit(1L)).as("self_rank"),
        any_value(col("self_score")).as("self_score"))
      .select(col("q_doc"), col("self_rank"),
        round(lit(1.0) / col("self_rank"), 9).as("rr"),
        col("self_score"))
      .orderBy("q_doc")
  }

  /** BM25 text search over a PREBUILT BM25 score table ([[bm25FromCounts]]):
    * documents ranked by summed BM25 over the query terms — the serving
    * path of a stored inverted index: the term filter prunes the asset
    * scan, the per-doc agg is narrow (decimal-routed sum), top-k heaps. */
  def searchByTermsBm25FromScores(scores: DataFrame,
      queryTerms: Seq[String], k: Int = 20): DataFrame =
    topKByValue(
      scores
        .where(col("term").isInCollection(queryTerms))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_hits"),
          round(sum(col("score").cast("decimal(28,14)")).cast("double"), 9).as("score"))
        .select("doc_id", "n_hits", "score"),
      "score", k, Seq("doc_id"))

  /** TF-IDF text search over a prebuilt term-counts table + corpus size:
    * rank documents by summed tf·idf over the query's terms — the
    * canonical CONSUMER of the reference's output (what its ranked
    * word|file table exists to serve). Scale shape: the term filter
    * prunes the scored table to query-term rows only (predicate pushdown
    * into the aggregation's input), one narrow per-doc agg, top-k as
    * TakeOrderedAndProject. The per-doc sum is decimal-routed over rounded
    * tfidf values so ranking is engine-exact and merge-order-free. */
  def searchByTermsFromCounts(tc: DataFrame, totalDocs: Long,
      queryTerms: Seq[String], k: Int = 20): DataFrame = {
    val scored = pipelineFromCounts(tc, totalDocs)
      .select(col("term"), col("doc_id"), round(col("tfidf"), 9).as("tfidf_r"))
    topKByValue(
      scored.where(col("term").isInCollection(queryTerms))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_hits"),
          round(sum(col("tfidf_r").cast("decimal(28,14)")).cast("double"), 9).as("score"))
        .select("doc_id", "n_hits", "score"),
      "score", k, Seq("doc_id"))
  }
}
