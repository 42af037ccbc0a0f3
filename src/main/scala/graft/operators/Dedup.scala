package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{MinHashSignature, SimHashAgg, TextFunctions}

/** Deduplication operators for a training-data pipeline, each designed
  * around one shuffle pattern that survives 100 TB:
  *
  *  - [[exact]]: hash-groupBy on a 128-bit content fingerprint — one
  *    shuffle keyed by digest, partial agg map-side. No full-text shuffle.
  *  - [[minhashSignatures]] / [[minhashPairs]]: byte-shingle one-permutation
  *    MinHash (per-row [[graft.functions.MinHashSignature]]) → banded LSH →
  *    bucket self-join. Only docs agreeing on a whole band meet in a
  *    bucket, so the join is |bucket|² on near-dup clusters instead of
  *    |corpus|². Hot buckets (boilerplate at corpus scale) are capped
  *    deterministically.
  *  - [[simhashSignatures]] / [[simhashPairs]]: 64-bit SimHash (custom
  *    [[graft.functions.SimHashAgg]]) with 16-bit-chunk LSH — by pigeonhole
  *    any pair within Hamming distance 3 agrees exactly on ≥1 of 4 chunks;
  *    verify with `bit_count(a XOR b)`.
  *  - [[ngramJaccardExact]]: exact token-3-gram Jaccard via shared-gram
  *    join — the exact verifier behind the sketches, output-bound (only
  *    overlapping pairs materialize).
  */
object Dedup {

  /** Exact dedup: group documents by content fingerprint; `keeper` is the
    * smallest doc_id (deterministic survivor policy). */
  def exact(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), TextFunctions.contentFingerprint(col("text")).as("fingerprint"))
      .groupBy("fingerprint")
      .agg(count(lit(1)).as("n_docs"), min("doc_id").as("keeper"))
      .orderBy("fingerprint")

  /** Canonicalize `text` (lower-case, whitespace runs to one space,
    * trim), drop texts shorter than one shingle, and sign the rest with the
    * per-row [[MinHashSignature]] kernel: the `keep` columns plus
    * `sig array<bigint>` of length `k`. The one spelling of "canonicalize,
    * drop, sign" for the batch operators and the near-dup streams. Dropping
    * matters: a sub-shingle text has no window and would get the
    * all-`Long.MaxValue` signature, so all such texts would pair at
    * Jaccard 1.0 in every band. */
  private[graft] def minhashSigs(docs: DataFrame, k: Int, shingleLen: Int,
      keep: Seq[String] = Seq("doc_id")): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge
    val canon = trim(regexp_replace(lower(col("text")), "\\s+", " "))
    docs.select(keep.map(col) :+ canon.as("canon"): _*)
      .where(length(col("canon")) >= shingleLen)
      .select(keep.map(col) :+ GraftColumnBridge.column(MinHashSignature(
        GraftColumnBridge.expression(col("canon")), shingleLen, k)).as("sig"): _*)
  }

  /** LSH band keys of the `sig` column: a `posexplode` of one xxhash64 per
    * band of `k / bands` consecutive signature components, to alias as
    * (band, band_hash). Two documents share a bucket iff they agree on a
    * whole band. */
  private[graft] def bandHashes(k: Int, bands: Int): Column = {
    require(k % bands == 0, "bands must divide k")
    val r = k / bands
    posexplode(expr(
      s"transform(sequence(0, ${bands - 1}), b -> xxhash64(slice(sig, b * $r + 1, $r)))"))
  }

  /** MinHash signatures: one `(doc_id, sig array<bigint>)` row of length
    * `k` per document with at least `shingleLen` canonical characters — a
    * per-row map after [[Scaling.fanOut]] (no generator, no aggregate).
    * Input contract: one row per `doc_id`; repeated ids are not merged and
    * come out as repeated signature rows. */
  def minhashSignatures(docs: DataFrame, k: Int = 128, shingleLen: Int = 5): DataFrame =
    minhashSigs(Scaling.fanOut(docs.select(col("doc_id"), col("text"))), k, shingleLen)

  /** LSH banding PLANNER: the S-curve table an engineer reads before
    * picking (bands, rows) for [[minhashPairs]] — for every banding of a
    * `k`-component signature and every Jaccard value on a grid, the
    * probability that a pair at that similarity collides in at least one
    * band, {{{ P(collide) = 1 - (1 - J^r)^b }}}, plus the banding's
    * threshold (the S-curve's steep point, `(1/b)^(1/r)`). Driver-less
    * construction: the grid is `spark.range` cross products, the math is
    * codegen'd column expressions — the same shape at any cluster size
    * (the output is bands×grid rows, independent of any corpus).
    * `pow` may differ in the last ulp across libms → both engines round
    * to 9 (the established `ln` treatment). */
  def lshPlan(spark: SparkSession, k: Int = 64, jSteps: Int = 19): DataFrame = {
    val bandings = spark.range(1, k + 1).withColumnRenamed("id", "bands")
      .where(lit(k) % col("bands") === 0)
      .withColumn("rows_per_band", (lit(k) / col("bands")).cast("long"))
    val grid = spark.range(1, jSteps + 1)
      .select((col("id").cast("double") / (jSteps + 1)).as("jaccard"))
    bandings.crossJoin(grid)
      .select(col("bands"), col("rows_per_band"),
        round(col("jaccard"), 9).as("jaccard"),
        round(lit(1.0) - pow(lit(1.0) - pow(col("jaccard"), col("rows_per_band")),
          col("bands")), 9).as("p_collide"),
        round(pow(lit(1.0) / col("bands"), lit(1.0) / col("rows_per_band")), 9)
          .as("threshold"))
      .orderBy("bands", "jaccard")
  }

  /** Banded LSH over MinHash signatures → candidate pairs with estimated
    * Jaccard ≥ `threshold`. `bands` must divide `k`; with k=128, b=16
    * (r=8) the LSH S-curve crosses ~0.5 at J≈(1/16)^(1/8)≈0.71. Input
    * contract as [[minhashSignatures]]: one row per `doc_id`. */
  def minhashPairs(
      docs: DataFrame,
      k: Int = 128,
      bands: Int = 16,
      threshold: Double = 0.7,
      shingleLen: Int = 5,
      maxBucket: Int = 64): DataFrame = {
    val bandKeys = bandHashes(k, bands)
    // materialize signatures once (3 consumers: banding + both join sides)
    // — at cluster scale this is "write the signature table, then join",
    // the standard LSH shape.
    val sigs = minhashSignatures(docs, k, shingleLen)
      .scopedPersist()

    // banding, bucket cap, self-join, and pair-dedup all operate on NARROW
    // (id, band, hash) rows — the 1 KB signature arrays only rejoin after
    // the candidate set is deduplicated, so no wide payload ever passes
    // through the window or the dedup exchange.
    val banded = sigs.select(col("doc_id"), bandKeys.as(Seq("band", "band_hash")))
    val capped = banded
      .withColumn("rn", row_number().over(
        Window.partitionBy("band", "band_hash").orderBy("doc_id")))
      .where(col("rn") <= maxBucket)
      .drop("rn")
    val cand = capped.select(col("band"), col("band_hash"), col("doc_id").as("doc_a"))
      .join(capped.select(col("band"), col("band_hash"), col("doc_id").as("doc_b")),
        Seq("band", "band_hash"))
      .where(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b")
      .dropDuplicates("doc_a", "doc_b")
    cand
      .join(sigs.select(col("doc_id").as("doc_a"), col("sig").as("sig_a")), "doc_a")
      .join(sigs.select(col("doc_id").as("doc_b"), col("sig").as("sig_b")), "doc_b")
      .withColumn("jaccard_est", expr("graft_sig_match(sig_a, sig_b)"))
      .where(col("jaccard_est") >= threshold)
      .select("doc_a", "doc_b", "jaccard_est")
      .orderBy("doc_a", "doc_b")
  }

  /** 64-bit SimHash per document over term-frequency-weighted token hashes. */
  def simhashSignatures(docs: DataFrame): DataFrame = {
    val agg = udaf(new SimHashAgg)
    Tfidf.tokenizePortable(docs)
      .groupBy("doc_id", "term").agg(count(lit(1)).as("w"))
      .select(col("doc_id"), xxhash64(col("term")).as("h"), col("w"))
      .groupBy("doc_id")
      .agg(agg(col("h"), col("w")).as("simhash"))
  }

  /** SimHash near-dup pairs within `maxHamming` (≤3 for the 4×16-bit chunk
    * LSH to be lossless by pigeonhole). */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3): DataFrame = {
    require(maxHamming <= 3, "4-chunk LSH is only complete for distance <= 3")
    val sigs = simhashSignatures(docs)
    val chunked = sigs.select(col("doc_id"), col("simhash"),
      posexplode(expr(
        "transform(sequence(0, 3), c -> (simhash >> (c * 16)) & 65535)"))
        .as(Seq("chunk", "chunk_val")))
      .scopedPersist()
    val a = chunked.select(col("chunk"), col("chunk_val"),
      col("doc_id").as("doc_a"), col("simhash").as("sig_a"))
    val b = chunked.select(col("chunk"), col("chunk_val"),
      col("doc_id").as("doc_b"), col("simhash").as("sig_b"))
    a.join(b, Seq("chunk", "chunk_val"))
      .where(col("doc_a") < col("doc_b"))
      .withColumn("hamming", expr("bit_count(sig_a ^ sig_b)"))
      .where(col("hamming") <= maxHamming)
      .select("doc_a", "doc_b", "hamming")
      .dropDuplicates("doc_a", "doc_b")
      .orderBy("doc_a", "doc_b")
  }

  /** Embedding-cosine near-dup pairs: sign-random-projection LSH buckets →
    * exact cosine on candidates ≥ `threshold`. All-pairs variant of
    * [[Similarity.annCosineLsh]] — the bucket self-join bounds the pair
    * space the same way [[minhashPairs]] does for text. */
  def embeddingNearDups(
      embeddings: DataFrame,
      threshold: Double = 0.9,
      planes: Int = 16,
      bands: Int = 4): DataFrame =
    Similarity.cosinePairsLsh(embeddings, threshold, planes, bands)

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023, "SemDeDup:
    * Data-efficient learning at web-scale through semantic deduplication"):
    * cluster embeddings around portable md5-seeded centroids
    * ([[Similarity.trainCentroids]], zero Lloyd iterations so assignment is
    * engine-reproducible), then within each cluster keep the most-central
    * representative of every near-duplicate neighborhood — a vector is
    * DROPPED iff some cluster-mate ranking ahead of it (higher centroid
    * similarity, ties broken to the lower id) lies within cosine `tau` of
    * it. The rank-ordered EXISTS is the deterministic, set-expressible
    * reading of the paper's "keep one per duplicate group" greedy sweep.
    *
    * Output: one row per vector `(vec_id, list_id, c_sim, keep)` — an audit
    * table, not just the survivors, so the drop rate per cluster is
    * directly inspectable.
    *
    * Scale shape: centroid training is a deterministic md5-ordered sample;
    * assignment is a broadcast-centroid map pass with a map-side `max_by`
    * partial (no corpus×C shuffle); the pair test self-joins ON `list_id`,
    * so candidate volume is Σ|cluster|², never |corpus|² — `nClusters` is
    * the production knob (∝ corpus size / target cluster size, e.g. 100k
    * clusters for 100M docs keeps clusters ~1k). No driver-side collect
    * anywhere; the cosine is the codegen'd `graft_dot`, rounded to 6 before
    * every comparison so rank and drop decisions replay identically in the
    * SQL oracle. */
  def semanticDedup(
      embeddings: DataFrame,
      nClusters: Int = 16,
      tau: Double = 0.7): DataFrame = {
    val assigned = semanticAssigned(embeddings, nClusters)
    val ahead = assigned.select(col("list_id"), col("vec_id").as("a_id"),
      col("c_sim").as("a_sim"), col("v").as("av"), col("norm").as("anorm"))
    val behind = assigned.select(col("list_id"), col("vec_id").as("b_id"),
      col("c_sim").as("b_sim"), col("v").as("bv"), col("norm").as("bnorm"))
    val dropped = ahead.join(behind, "list_id")
      .where(col("a_sim") > col("b_sim") ||
        (col("a_sim") === col("b_sim") && col("a_id") < col("b_id")))
      .withColumn("cos",
        round(expr("graft_dot(av, bv)") / (col("anorm") * col("bnorm")), 6))
      .where(col("cos") >= tau)
      .select(col("b_id").as("vec_id")).distinct()
      .withColumn("is_dup", lit(true))
    semanticKeepAudit(assigned, dropped)
  }

  /** THE shared SemDeDup cluster assignment — the ONE spelling both the
    * float and the int8-coded pair tests build on, so their assignment and
    * precedence semantics can never diverge (the coded path's recall gate
    * compares exactly these decisions): md5-seeded centroids, rounded-
    * cosine argmax with the centroid similarity kept as the within-cluster
    * precedence key (same shape as Similarity.assignToLists). Output
    * `(vec_id, list_id, c_sim, v, norm)`, persisted for the pair sides. */
  private def semanticAssigned(embeddings: DataFrame, nClusters: Int): DataFrame = {
    val e = Similarity.prepared(embeddings, "embedding")
      .select("vec_id", "v", "norm").scopedPersist()
    val cents = Similarity.trainCentroids(e, nClusters, lloydIters = 0)
    e.join(broadcast(cents))
      .withColumn("c_sim",
        round(expr("graft_dot(v, cv)") / (col("norm") * col("cnorm")), 6))
      .groupBy("vec_id")
      .agg(max_by(struct(col("c_id"), col("c_sim"), col("v"), col("norm")),
        struct(col("c_sim"), -col("c_id"))).as("best"))
      .select(col("vec_id"), col("best.c_id").as("list_id"),
        col("best.c_sim").as("c_sim"), col("best.v").as("v"),
        col("best.norm").as("norm"))
      .scopedPersist()
  }

  /** Shared SemDeDup audit assembly: one row per input vector with the
    * 1/0 BIGINT `keep` flag (numeric flags hash identically across
    * engines in the driver's comparison), never a filtered survivor
    * list. */
  private def semanticKeepAudit(assigned: DataFrame, dropped: DataFrame): DataFrame =
    assigned.select("vec_id", "list_id", "c_sim")
      .join(dropped, Seq("vec_id"), "left")
      .select(col("vec_id"), col("list_id"), col("c_sim"),
        when(col("is_dup"), lit(0L)).otherwise(lit(1L)).as("keep"))
      .orderBy("vec_id")

  /** Cluster-balanced subsample — the topic-rebalancing sibling of
    * [[semanticDedup]]: cap every semantic cluster at `cap` members so
    * over-represented topics (boilerplate genres, scraped duplicates of a
    * popular theme) cannot dominate the training mix, while rare topics
    * survive whole. Reuses the SAME md5-seeded assignment as SemDeDup
    * (one spelling, one oracle CTE chain); within a cluster, rank by
    * centroid similarity DESC (vec_id tiebreak) so the kept `cap` are the
    * cluster's most representative members — flip the ordering to keep
    * the most peripheral instead when pruning for diversity à la Sorscher
    * et al. 2022 ("Beyond neural scaling laws": prototype-ranked pruning).
    * Output: every vector with its cluster, similarity, within-cluster
    * rank, and a 1/0 BIGINT `keep` — audit columns, not a survivor list.
    *
    * Scale shape: assignment is the broadcast-centroid map pass; the only
    * shuffle is BY CLUSTER for the ranking window, and a cluster is
    * bounded by construction (`nClusters` scales with the corpus — the
    * SemDeDup sizing rule), so no window partition can run away the way a
    * corpus-wide sort would. */
  def clusterBalancedSample(
      embeddings: DataFrame,
      nClusters: Int = 16,
      cap: Int = 16): DataFrame =
    semanticAssigned(embeddings, nClusters)
      .select("vec_id", "list_id", "c_sim")
      .withColumn("cluster_rank", row_number().over(
        Window.partitionBy("list_id").orderBy(desc("c_sim"), asc("vec_id")))
        .cast("long"))
      .select(col("vec_id"), col("list_id"), col("c_sim"), col("cluster_rank"),
        (col("cluster_rank") <= cap).cast("long").as("keep"))
      .orderBy("vec_id")

  /** [[semanticDedup]] with an int8-CODED pair test — the 100 TB shape.
    * The float path's one scale risk is the Σ|cluster|² pair join
    * shuffling full `array<double>` vectors (dim·8 bytes per row, twice).
    * Here the pair join moves int8 codes instead (dim bytes + two doubles
    * — [[graft.functions.VectorUtil.i8Encode]], the exact
    * [[Similarity.int8QuantizeStats]] codec), cutting pair-join shuffle
    * bytes ~8×; candidate pairs whose CODED cosine clears `tau - guard`
    * are then re-ranked EXACTLY by joining the full vectors back per
    * surviving pair (candidate-bounded work keyed by vec_id, not
    * Σ|cluster|²), so every final drop decision uses the same rounded
    * float cosine as the float path. `guard` absorbs the quantization
    * error of the coded estimate (≈0.01 at realistic dims; 0.05 default
    * is ~4σ) — only a true pair whose coded estimate fell more than
    * `guard` below `tau` can be missed, which the recall gate
    * ([[semanticDedupCodedGate]]) watches. */
  def semanticDedupCoded(
      embeddings: DataFrame,
      nClusters: Int = 16,
      tau: Double = 0.7,
      guard: Double = 0.05): DataFrame = {
    val assigned = semanticAssigned(embeddings, nClusters)
    // the NARROW pair-side projection: codes + scalars only — the full
    // vector column must never reach the list_id shuffle (PlanSpec-gated)
    val coded = assigned
      .withColumn("scale", array_max(transform(col("v"), x => abs(x))))
      .select(col("vec_id"), col("list_id"), col("c_sim"), col("norm"),
        col("scale"), expr("graft_i8_encode(v, scale)").as("code"))
    val ahead = coded.select(col("list_id"), col("vec_id").as("a_id"),
      col("c_sim").as("a_sim"), col("code").as("acode"),
      col("scale").as("ascale"), col("norm").as("anorm"))
    val behind = coded.select(col("list_id"), col("vec_id").as("b_id"),
      col("c_sim").as("b_sim"), col("code").as("bcode"),
      col("scale").as("bscale"), col("norm").as("bnorm"))
    // dequantized dot: a_i ≈ code_a_i·scale_a/127 ⇒
    // dot(a,b) ≈ scale_a·scale_b/127² · Σ code_a_i·code_b_i
    val candidates = ahead.join(behind, "list_id")
      .where(col("a_sim") > col("b_sim") ||
        (col("a_sim") === col("b_sim") && col("a_id") < col("b_id")))
      .where(
        col("ascale") * col("bscale") * expr("graft_i8_dot(acode, bcode)") /
          (lit(127.0 * 127.0) * col("anorm") * col("bnorm")) >= tau - guard)
      .select("a_id", "b_id")
    // exact re-rank of the survivors: full-precision cosine, identical
    // rounding and threshold to the float path
    val dropped = candidates
      .join(assigned.select(col("vec_id").as("a_id"), col("v").as("av"),
        col("norm").as("ra_norm")), "a_id")
      .join(assigned.select(col("vec_id").as("b_id"), col("v").as("bv"),
        col("norm").as("rb_norm")), "b_id")
      .withColumn("cos",
        round(expr("graft_dot(av, bv)") / (col("ra_norm") * col("rb_norm")), 6))
      .where(col("cos") >= tau)
      .select(col("b_id").as("vec_id")).distinct()
      .withColumn("is_dup", lit(true))
    semanticKeepAudit(assigned, dropped)
  }

  /** Driver-visible recall gate for the coded pair test (same THROW
    * contract as [[Similarity.annRecallGate]]): run BOTH SemDeDup paths
    * and require the coded path to reproduce at least `minRecall` of the
    * float path's drop set AND introduce no false drops (the exact
    * re-rank makes extras impossible by construction — a nonzero count
    * means the codec broke). One summary row for the driver. */
  def semanticDedupCodedGate(
      embeddings: DataFrame,
      nClusters: Int = 16,
      tau: Double = 0.7,
      minRecall: Double = 0.95): DataFrame = {
    val fl = semanticDedup(embeddings, nClusters, tau)
      .select(col("vec_id"), col("keep").as("keep_float"))
    val cd = semanticDedupCoded(embeddings, nClusters, tau)
      .select(col("vec_id"), col("keep").as("keep_coded"))
    val row = fl.join(cd, "vec_id")
      .agg(count(lit(1)).as("n_vectors"),
        sum(when(col("keep_float") === 0, 1L).otherwise(0L)).as("n_drop_float"),
        sum(when(col("keep_coded") === 0, 1L).otherwise(0L)).as("n_drop_coded"),
        sum(when(col("keep_float") === 0 && col("keep_coded") === 0, 1L)
          .otherwise(0L)).as("n_drop_both"),
        sum(when(col("keep_float") === 1 && col("keep_coded") === 0, 1L)
          .otherwise(0L)).as("n_false_drops"))
      .withColumn("drop_recall",
        when(col("n_drop_float") === 0, lit(1.0))
          .otherwise(round(col("n_drop_both").cast("double") /
            col("n_drop_float"), 6)))
      .head()
    val recall = row.getAs[Double]("drop_recall")
    val falseDrops = row.getAs[Long]("n_false_drops")
    require(row.getAs[Long]("n_drop_float") > 0,
      "semantic-dedup gate is vacuous: float path dropped nothing")
    require(recall >= minRecall,
      f"coded SemDeDup drop recall $recall%.4f below gate $minRecall%.2f")
    require(falseDrops == 0L,
      s"coded SemDeDup produced $falseDrops false drops — exact re-rank broken")
    val s = embeddings.sparkSession
    import s.implicits._
    Seq((row.getAs[Long]("n_vectors"), row.getAs[Long]("n_drop_float"),
      row.getAs[Long]("n_drop_coded"), recall))
      .toDF("n_vectors", "n_drop_float", "n_drop_coded", "drop_recall")
  }

  /** Driver-visible sketch-quality gate, mirroring
    * [[Similarity.annRecallGate]]: measures the LSH text sketches against
    * the exact n-gram verifier and THROWS (→ driver `err`) on regression,
    * so a banding/mixing bug surfaces as a hard failure instead of passing
    * a rows-only check silently. Two directions from ONE exact pass
    * ([[ngramJaccardExact]] at the loose bar, filtered to the strict bar):
    *  - recall: pairs the exact verifier scores ≥ `truthMinJaccard` must be
    *    found by the sketch (a banding regression that stops near-dups from
    *    colliding craters this). The default truth bar is the NEAR-IDENTICAL
    *    slice (0.95): there the capped-gram measure and the sketch's own
    *    measure (5-char shingles / weighted unigrams) agree on any corpus;
    *    in the 0.8–0.95 band they legitimately diverge once the gram cap
    *    reduces the verifier to rare residual grams (mass-duplicated
    *    corpora), so gating that band is corpus-dependent calibration, not
    *    regression detection. Truth pairs additionally need a gram-union of
    *    at least `minUnionGrams`: with the boilerplate cap active, two
    *    unrelated documents can share their ONLY few surviving rare grams
    *    and score a degenerate residual-Jaccard of 1.0 — a denominator
    *    floor keeps such pairs out of ground truth. Like the LSH bucket
    *    caps, the gate presumes [[exact]] dedup ran first: under mass
    *    duplication the df cap strips duplicated content wholesale and no
    *    meaningful truth slice remains (the gate then fails fast on an
    *    empty truth set rather than reporting vacuous recall);
    *  - precision: pairs the sketch emits must be at least loosely similar
    *    (≥ `looseJaccard` exact) — a hashing regression that floods
    *    buckets with unrelated docs craters this.
    * Output: one summary row (rows-only; the gate is the point). */
  def sketchQualityGate(
      docs: DataFrame,
      mode: String = "minhash",
      truthMinJaccard: Double = 0.95,
      looseJaccard: Double = 0.2,
      minRecall: Double = 0.9,
      minPrecision: Double = 0.9,
      threshold: Double = 0.7,
      bands: Int = 16,
      maxHamming: Int = 3,
      minUnionGrams: Int = 10,
      exactPairs: Option[DataFrame] = None,
      sketchPairs: Option[DataFrame] = None): DataFrame = {
    // `exactPairs`/`sketchPairs` accept PREBUILT pair tables (a persisted
    // [[ngramJaccardExact]] run at minJaccard <= looseJaccard, and the
    // already-filtered sketch output) so a pipeline that materialized them
    // once — the production shape — doesn't pay the generators again here.
    // Results are identical either way: both builders are deterministic.
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val exact = exactPairs.getOrElse(ngramJaccardExact(docs, looseJaccard))
      .where(col("jaccard") >= looseJaccard)
      .select(col("doc_a"), col("doc_b"), col("jaccard"),
        (col("grams_a") + col("grams_b") - col("n_shared")).as("union_grams"))
      .persist(lvl)
    val found = sketchPairs.getOrElse(mode match {
      case "minhash" => minhashPairs(docs, bands = bands, threshold = threshold)
      case "simhash" => simhashPairs(docs, maxHamming)
      case other => throw new IllegalArgumentException(s"unknown sketch mode: $other")
    }).select(col("doc_a"), col("doc_b"))
      .persist(lvl)
    val (nTruth, nMatched, nFound, nLoose) =
      try {
        val truth = exact.where(col("jaccard") >= truthMinJaccard &&
          col("union_grams") >= minUnionGrams)
        val r = truth.join(found.withColumn("hit", lit(1L)), Seq("doc_a", "doc_b"), "left")
          .agg(count(lit(1)).as("n_truth"),
            coalesce(sum(col("hit")), lit(0L)).as("n_matched")).head()
        val p = found.join(exact.withColumn("loose", lit(1L)), Seq("doc_a", "doc_b"), "left")
          .agg(count(lit(1)).as("n_found"),
            coalesce(sum(col("loose")), lit(0L)).as("n_loose")).head()
        (r.getLong(0), r.getLong(1), p.getLong(0), p.getLong(1))
      } finally { exact.unpersist(); found.unpersist() }
    require(nTruth > 0, s"sketch($mode) gate has no ground-truth pairs at " +
      s"jaccard >= $truthMinJaccard — corpus unsuitable for the gate")
    require(nFound > 0, s"sketch($mode) emitted no pairs at all")
    val recall = nMatched.toDouble / nTruth
    val precision = nLoose.toDouble / nFound
    require(recall >= minRecall,
      f"sketch($mode) recall $recall%.3f below gate $minRecall%.2f")
    require(precision >= minPrecision,
      f"sketch($mode) precision $precision%.3f below gate $minPrecision%.2f")
    docs.sparkSession.range(1).select(
      lit(mode).as("mode"),
      lit(nTruth).as("n_truth"), lit(nMatched).as("n_matched"),
      lit(nFound).as("n_found"), lit(nLoose).as("n_loose"),
      round(lit(recall), 6).as("recall"),
      round(lit(precision), 6).as("precision"))
  }

  /** Incremental ingestion dedup: of `incoming`, keep only documents whose
    * content fingerprint is NOT already in `existing` — the anti-join that
    * makes corpus ingestion idempotent (re-delivered batches, overlapping
    * crawls). Within the incoming batch itself the lowest doc_id per
    * fingerprint survives (same policy as [[exact]]). Both sides reduce to
    * narrow (fingerprint[, id]) rows before the one shuffle; no text moves. */
  def incrementalNew(existing: DataFrame, incoming: DataFrame): DataFrame = {
    val seen = existing
      .select(TextFunctions.contentFingerprint(col("text")).as("fingerprint"))
      .distinct()
    incoming
      .select(col("doc_id"), TextFunctions.contentFingerprint(col("text")).as("fingerprint"))
      .groupBy("fingerprint").agg(min("doc_id").as("doc_id"))
      .join(seen, Seq("fingerprint"), "left_anti")
      .select("doc_id", "fingerprint")
      .orderBy("doc_id")
  }

  /** Exact-duplicate FLAGS for an append batch against a stored
    * fingerprint store — the manifest-maintenance sibling of
    * [[incrementalNew]] (that one keeps survivors; this one keeps every
    * batch row with its decision, the audit posture of the manifest
    * family). Keeper convention is FIRST-ARRIVED, same as every stored
    * index here: a batch document is a duplicate iff its content
    * fingerprint is already stored, or an earlier batch arrival (min
    * doc_id within the batch) owns it — a low-id newcomer never steals a
    * stored keepership. One narrow fingerprint-keyed probe; no text
    * crosses an exchange. `storedFps` needs a `fingerprint` column (the
    * keeper id, if present, is not read). */
  def exactDupFlagsIncremental(storedFps: DataFrame, newDocs: DataFrame): DataFrame = {
    val fps = newDocs.select(col("doc_id"),
      TextFunctions.contentFingerprint(col("text")).as("fingerprint"))
    val batchFirst = fps.groupBy("fingerprint").agg(min("doc_id").as("first_id"))
    fps
      .join(batchFirst, "fingerprint")
      .join(storedFps.select("fingerprint").distinct().withColumn("stored", lit(1L)),
        Seq("fingerprint"), "left")
      .select(col("doc_id"),
        (col("stored").isNotNull || col("doc_id") =!= col("first_id"))
          .cast("long").as("exact_dup"))
  }

  /** Near-duplicate FLAGS for an append batch under the frozen-store
    * protocol — the manifest's near-dup stage at O(batch) instead of a
    * full pair + closure rebuild. Stored state (all snapshot-pinned,
    * built by the same spellings as the batch pair family):
    *
    *  - `storedLabels` `(doc_id, cluster)`: the snapshot's pair-table
    *    closure ([[connectedComponents]] over [[ngramJaccardExact]] of
    *    the old corpus). Old labels NEVER move — two old clusters bridged
    *    by a new arrival stay separate (the first-arrived immutability
    *    rule every stored index here follows; the bridge document itself
    *    flags as a near-dup).
    *  - `storedPostings` `(doc_id, gram)`: the old corpus' distinct
    *    3-grams ([[distinctGramRows]]) kept under the snapshot's
    *    document-frequency cap.
    *  - `storedGramDf` `(gram, gram_df)`: document frequency of EVERY old
    *    gram, uncapped — the batch needs old counts to know each batch
    *    gram's merged df.
    *  - `storedSizes` `(doc_id, n_grams)`: per old doc, its kept-gram
    *    count under the snapshot cap.
    *
    * Semantics: a batch document is a near-dup iff it connects — through
    * Jaccard-≥-`minJaccard` pairs under the MERGED df cap (old df + batch
    * df; a batch arrival can push a boilerplate gram over the cap, which
    * removes it from every denominator, stored docs' included) — to any
    * stored document or to an earlier batch arrival, including chains
    * through other batch documents. Old docs collapse to their stored
    * component label before the closure, so connectivity through the old
    * corpus is one hop and the component computation touches only the
    * batch-incident subgraph.
    *
    * Scale shape: batch grams probe the stored df and posting tables by
    * gram key (O(batch-incident) rows move — stored rows for grams absent
    * from the batch never leave the scan); the closure runs on batch
    * nodes + touched label nodes only. Nothing anywhere is
    * O(stored corpus).
    *
    * DETERMINISM PRECONDITION (public contract): every input frame must
    * be deterministic — content-derived, no sampling, no uuid/rand
    * stamping, no non-reproducible source. The stages are lineage-cut
    * via `lazyPinned` (persist without a synchronous materialize), so
    * concurrent first readers may compute a partition twice; a
    * nondeterministic input could silently fork into inconsistent stage
    * views. Stored-asset parquet and raw-table projections (every house
    * caller) satisfy this by construction. */
  def nearDupFlagsIncremental(
      storedLabels: DataFrame,
      storedPostings: DataFrame,
      storedGramDf: DataFrame,
      storedSizes: DataFrame,
      newDocs: DataFrame,
      minJaccard: Double = 0.5,
      maxGramDf: Int = 64): DataFrame = {
    // lazyPinned (the cascade-merge diet, r14): each stage below is
    // referenced several times by the pair joins and the closure; without
    // the lineage cut the composite's rendered plan embeds every stage's
    // full tree once per reference (~679 exchanges at r13 — driver-side
    // planning drag and the source of an AQE-render fingerprint flap).
    // All frames are content-derived (deterministic), the lazy-pin
    // precondition.
    val newGrams = distinctGramRows(newDocs).lazyPinned()
    val mergedDf = newGrams.groupBy("gram").agg(count(lit(1)).as("batch_df"))
      .join(storedGramDf, Seq("gram"), "left")
      .select(col("gram"),
        (col("batch_df") + coalesce(col("gram_df"), lit(0L))).as("merged_df"),
        coalesce(col("gram_df"), lit(0L)).as("old_df"))
      .lazyPinned()
    val keptNew = newGrams
      .join(mergedDf.where(col("merged_df") <= maxGramDf).select("gram"), "gram")
      .lazyPinned()
    // grams this batch pushed over the cap: stored docs lose them from
    // their denominators (batch-sized set — only batch grams change df)
    val overCap = mergedDf
      .where(col("merged_df") > maxGramDf && col("old_df") <= maxGramDf)
      .select("gram")
    val sizesNew = keptNew.groupBy("doc_id").agg(count(lit(1)).as("n_grams"))
    val lost = storedPostings.join(overCap, "gram")
      .groupBy("doc_id").agg(count(lit(1)).as("n_lost"))
    val sizesOldAdj = storedSizes.join(lost, Seq("doc_id"), "left")
      .select(col("doc_id"),
        (col("n_grams") - coalesce(col("n_lost"), lit(0L))).as("n_grams"))
    def jaccardOk(shared: Column, a: Column, b: Column): Column =
      round(shared.cast("double") / (a + b - shared), 9) >= minJaccard
    // ONE fused pair stage (r16): batch-batch and batch-stored edges used
    // to be two separate join+aggregate pipelines over the same keptNew
    // probe side; unioning the right sides first (batch grams flagged
    // r_new, stored postings not) runs ONE gram join, ONE pair aggregate
    // and ONE size-join pair for both edge families — identical pairs,
    // identical shared-gram counts, identical jaccard filter, ~half the
    // exchanges of the unfused shape. The r_new flag rides the group key
    // so an id living on both sides (old/new overlap) keeps the two
    // families separate, exactly as the unfused spelling did.
    val sizesRight = sizesNew
      .select(col("doc_id").as("rid"), lit(true).as("r_new"),
        col("n_grams").as("grams_b"))
      .unionByName(sizesOldAdj.select(col("doc_id").as("rid"),
        lit(false).as("r_new"), col("n_grams").as("grams_b")))
    val pairTab = keptNew
      .join(keptNew.select(col("doc_id").as("rid"), col("gram"))
          .withColumn("r_new", lit(true))
        .unionByName(storedPostings.select(col("doc_id").as("rid"), col("gram"))
          .withColumn("r_new", lit(false))),
        Seq("gram"))
      .where(!col("r_new") || col("doc_id") < col("rid"))
      .groupBy("doc_id", "rid", "r_new").agg(count(lit(1)).as("n_shared"))
      .join(sizesNew.select(col("doc_id"), col("n_grams").as("grams_a")), "doc_id")
      .join(sizesRight, Seq("rid", "r_new"))
      .where(jaccardOk(col("n_shared"), col("grams_a"), col("grams_b")))
      .lazyPinned()
    // batch-batch edges
    val nn = pairTab.where(col("r_new"))
      .select(col("doc_id").as("doc_a"), col("rid").as("doc_b"))
    // batch-stored edges, stored side collapsed to its component label
    // (a stored doc outside every stored pair is its own singleton label)
    val no = pairTab.where(!col("r_new"))
      .join(storedLabels.select(col("doc_id").as("rid"), col("cluster")),
        Seq("rid"), "left")
      .select(col("doc_id").as("doc_a"),
        coalesce(col("cluster"), col("rid")).as("doc_b"))
      .distinct()
      .lazyPinned()
    val labelNodes = no.select(col("doc_b").as("node")).distinct()
    val comps = connectedComponents(nn.unionByName(no))
      .join(labelNodes.withColumn("is_label", lit(1L)),
        col("doc_id") === col("node"), "left")
    val compStats = comps.groupBy("cluster").agg(
      max(coalesce(col("is_label"), lit(0L))).as("has_stored"),
      min(when(col("is_label").isNull, col("doc_id"))).as("min_new"))
    val flagged = comps.where(col("is_label").isNull)
      .join(compStats, "cluster")
      .select(col("doc_id"),
        (col("has_stored") === 1L || col("doc_id") =!= col("min_new"))
          .cast("long").as("near_dup"))
    newDocs.select("doc_id").join(flagged, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("near_dup"), lit(0L)).as("near_dup"))
  }

  /** Connected components over an undirected near-dup pair table →
    * (doc_id, cluster) with cluster = the minimum doc_id reachable. This is
    * what turns PAIRS into dedup decisions: keep `cluster`, drop the rest.
    *
    * Alternating large-star/small-star contraction (the MapReduce-native
    * components algorithm): large-star hangs every neighbor larger than a
    * node off that node's minimum, small-star regroups the remaining
    * larger→smaller edges around each node's minimum. The edge set
    * contracts to per-component stars in O(log n) rounds — against
    * min-label propagation's O(component diameter), the difference between
    * ~6 and ~50 rounds on a chain of edits — at the same per-round cost:
    * two narrow groupBy/join passes and ONE driver-side fingerprint action
    * (count + order-sensitive hash sum) for the convergence test. `maxIter`
    * hard-bounds adversarial inputs.
    *
    * BROADCAST-SIZED graphs finish locally: when the deduplicated edge set
    * is at most `localEdgeThreshold` rows (1M — two longs per row, the
    * same order as a broadcast-join build side),
    * the edges are collected once and a driver union-find produces the
    * identical min-reachable labels, replacing ~log(n) contraction rounds
    * of tiny synchronized jobs with ONE collect (measured: the manifest
    * family's batch-incident closures spent ~10 s of their 11 s bench
    * cost in these per-round barriers at sf0.1). The node table — which
    * CAN be corpus-sized when the edge set is not — never collects: labels
    * attach through the same broadcast left join as the distributed tail.
    * Equality with the contraction loop is spec-pinned (DedupSpec); above
    * the threshold the loop below runs unchanged, so the switch is
    * data-sized, not tuned to any core count. */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 20): DataFrame =
    connectedComponents(pairs, maxIter, localEdgeThreshold = 1000000L)

  /** [[connectedComponents]] with the local union-find's edge limit as a
    * parameter; 0 forces the distributed contraction loop (specs). */
  private[graft] def connectedComponents(pairs: DataFrame, maxIter: Int,
      localEdgeThreshold: Long): DataFrame = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // nodes come from the RAW pairs: a document appearing only in a
    // self-pair (doc_a == doc_b) still belongs in the output, labeling
    // itself via the final coalesce — the self-edge filter below is only
    // for the contraction's edge set
    val nodes = pairs.select(col("doc_a").as("doc_id"))
      .union(pairs.select(col("doc_b").as("doc_id"))).distinct()
    val init = pairs.select(col("doc_a").as("u"), col("doc_b").as("v"))
      .where(col("u") =!= col("v")).distinct().persist(lvl)

    // cheap exact-enough fixpoint test: edge count + sum of per-edge hashes
    // (sum through DECIMAL — ANSI-safe against Long overflow)
    def fingerprint(e: DataFrame): (Long, String) = {
      val r = e.agg(count(lit(1)),
        coalesce(sum(xxhash64(col("u"), col("v")).cast("decimal(38,0)")),
          lit(0).cast("decimal(38,0)"))).head()
      (r.getLong(0), r.getDecimal(1).toPlainString)
    }

    // one large-star ∘ small-star contraction round, LAZY (no persist, no
    // action); the loop persists each round's output before reusing it.
    // NOT fused two-at-a-time: a fused double round references the inner
    // round's un-persisted output 3× (symmetrization union + both star
    // joins), so the inner round's shuffles RE-EXECUTE per reference —
    // measured at sf0.1 as dedup_labels 20.8→5.9 s and dedup_labels_old90
    // 42.1→16.5 s when un-fused (isolated legs, quiet box). One persist +
    // one fingerprint action per round is the cheaper shape.
    def contractionRound(edges: DataFrame): DataFrame = {
      // large-star: per node u, every neighbor v > u links to
      // m(u) = min(neighbors ∪ {u}); output edges all point larger→smaller
      val sym = edges.select("u", "v")
        .union(edges.select(col("v").as("u"), col("u").as("v")))
      val mins = sym.groupBy("u").agg(min("v").as("mn"))
        .select(col("u"), least(col("mn"), col("u")).as("m"))
      val large = sym.join(mins, "u").where(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .where(col("u") =!= col("v")).distinct()
      // small-star: per node u (now only smaller neighbors), everything in
      // the neighborhood (u included) re-links to the minimum
      val minsS = large.groupBy("u").agg(min("v").as("m"))
      large.join(minsS, "u")
        .select(col("v").as("u"), col("m").as("v"))
        .union(minsS.select(col("u"), col("m").as("v")))
        .where(col("u") =!= col("v")).distinct()
    }

    // BROADCAST-SIZED graphs finish on the driver: ONE bounded collect
    // (`limit(threshold + 1)` — an overflow row proves the graph is too
    // big without counting it) + union-find replaces every contraction
    // round's synchronized job pair, and no count barrier follows — the
    // caller's own action materializes the cheap broadcast-join labels.
    // Larger graphs fall through to the loop unchanged.
    val localCap = math.min(localEdgeThreshold, Int.MaxValue - 2L).toInt
    val localEdges =
      if (localEdgeThreshold <= 0) null
      else init.select(col("u"), col("v")).limit(localCap + 1).collect()
    if (localEdges != null && localEdges.length <= localCap) {
      val spark = pairs.sparkSession
      import spark.implicits._
      val parent = new java.util.HashMap[Long, Long]()
      def find(x: Long): Long = {
        var r = x
        while (parent.get(r) != r) r = parent.get(r)
        var c = x
        while (c != r) { val n = parent.get(c); parent.put(c, r); c = n }
        r
      }
      localEdges.foreach { row =>
        val a = row.getLong(0)
        val b = row.getLong(1)
        if (!parent.containsKey(a)) parent.put(a, a)
        if (!parent.containsKey(b)) parent.put(b, b)
        val ra = find(a)
        val rb = find(b)
        // union by MIN root: each root is the minimum of its tree by
        // induction, so the merged root is the component minimum — the
        // contraction loop's exact label
        if (ra < rb) parent.put(rb, ra) else if (rb < ra) parent.put(ra, rb)
      }
      val labelRows = {
        import scala.jdk.CollectionConverters._
        parent.keySet().asScala.toSeq.sorted.map(n => (n, find(n)))
      }
      val labelMap = labelRows.toDF("doc_id", "cluster")
      val labels = nodes.join(broadcast(labelMap), Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("cluster"), col("doc_id")).as("cluster"))
        .orderBy("doc_id")
        .scopedPersist()
      init.unpersist()
      return labels
    }
    var edges = init
    var persisted = init
    var fp = fingerprint(edges)
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      val small = contractionRound(edges).persist(lvl)
      val nfp = fingerprint(small) // materializes the round's edge set
      if (persisted ne init) persisted.unpersist()
      persisted = small
      // cut the lineage: each round's plan otherwise embeds the previous
      // round's plan several times over — exponential plan growth that
      // stalls the optimizer long before the data is the bottleneck
      edges = small.sparkSession.createDataFrame(small.rdd, small.schema)
      converged = nfp == fp
      fp = nfp
      iter += 1
    }
    if (!converged)
      System.err.println(s"[graft] connectedComponents: iteration cap $maxIter hit " +
        "before fixpoint — labels are an upper bound, not final components")
    // fixpoint edges are stars (node → component root); roots label themselves
    val labels = nodes.join(
      edges.groupBy("u").agg(min("v").as("cluster"))
        .withColumnRenamed("u", "doc_id"),
      Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster"), col("doc_id")).as("cluster"))
      .orderBy("doc_id")
      .scopedPersist()
    // materialize the labels, then release every iteration frame: a long
    // session composing operators must not accumulate this loop's storage.
    // The RETURNED frame is persisted — callers own its unpersist (or a
    // session-level clearCache); re-draining it after an eviction replays
    // from retained shuffle files, not from scratch.
    labels.count()
    init.unpersist()
    if (persisted ne init) persisted.unpersist()
    labels
  }

  /** Apply near-dedup decisions to the corpus: from an undirected near-dup
    * pair table, keep exactly ONE document per cluster (the minimum doc_id
    * — [[connectedComponents]]' label) plus every unpaired document. The
    * end-to-end "pairs → decisions → filtered corpus" step a training
    * pipeline actually ships: losers are the narrow (doc_id) rows, so the
    * anti-join never moves document text. */
  def applyNearDedup(docs: DataFrame, pairs: DataFrame): DataFrame =
    applyDedupLabels(docs, connectedComponents(pairs))

  /** [[applyNearDedup]] from a PRECOMPUTED label table (a persisted
    * [[connectedComponents]] output): the pipeline shape where clustering
    * ran once and its labels are a stored corpus asset consumed by both
    * the cluster report and the corpus filter. */
  def applyDedupLabels(docs: DataFrame, labels: DataFrame): DataFrame = {
    val losers = labels
      .where(col("doc_id") =!= col("cluster"))
      .select("doc_id")
    docs.join(losers, Seq("doc_id"), "left_anti")
  }

  /** [[applyDedupLabels]] with a QUALITY-WEIGHTED keeper rule: per
    * near-dup cluster keep the member with the HIGHEST score (ties → the
    * smallest doc_id), instead of blindly keeping the minimum-id member —
    * the policy a curation pipeline actually wants, since near-dup
    * clusters routinely mix a clean original with boilerplate-wrapped
    * mirrors and the min-id copy is arbitrary. `scores` is any per-doc
    * (doc_id, `scoreCol`) table (the quality-score operator's output, a
    * perplexity `avg_logprob`, …) of ANY sign — a NULL/absent score ranks
    * below every real one via an explicit null-last flag, not a sentinel
    * floor (a −1 floor would outrank genuinely negative scores).
    *
    * Scale shape: keeper election is one narrow agg over the (doc_id,
    * cluster, score) join — `min(struct(isnull, −score, doc_id))` per
    * cluster, no window, no sort; losers are narrow (doc_id) rows and the
    * corpus is anti-joined exactly as in [[applyDedupLabels]] — document
    * text never moves. */
  def applyDedupLabelsKeepBest(docs: DataFrame, labels: DataFrame,
      scores: DataFrame, scoreCol: String = "quality"): DataFrame = {
    val sc = scores.select(col("doc_id"), col(scoreCol).cast("double").as("s"))
    // total order: scored before unscored, then score DESC, then doc_id ASC
    // (the flag keys the null group; `ns` is pinned to 0.0 there so the
    // struct comparison never consults a NULL field)
    val keeper = labels.join(sc, Seq("doc_id"), "left")
      .groupBy("cluster")
      .agg(min(struct(col("s").isNull.cast("int").as("nn"),
        coalesce(-col("s"), lit(0.0)).as("ns"), col("doc_id").as("kd"))).as("k"))
      .select(col("cluster"), col("k.kd").as("keep_doc"))
    val losers = labels.join(keeper, "cluster")
      .where(col("doc_id") =!= col("keep_doc"))
      .select("doc_id")
    docs.join(losers, Seq("doc_id"), "left_anti")
  }

  /** SOFT dedup — training WEIGHTS instead of drops (the SoftDeDup
    * policy: down-weight duplicated data so the loss sees each content
    * roughly once, rather than discarding near-duplicate documents whose
    * non-duplicated remainder still carries signal). Two redundancy
    * signals compose multiplicatively per document:
    *
    *  - frequency weight `1 / cluster_size` over the near-dup connected
    *    components (`labels`; documents outside every cluster weigh 1) —
    *    a cluster's total sampling mass stays ~1 however many copies it
    *    has;
    *  - paragraph novelty `1 − n_dup / n_paras` from
    *    [[Paragraphs.paragraphDupPerDoc]] — the share of the document's
    *    paragraph blocks whose content is corpus-novel, so boilerplate-
    *    heavy documents shrink even when no whole-document twin exists. A
    *    fully-boilerplate document weighs 0 (keep the row; the trainer
    *    decides whether weight-0 rows are dropped).
    *
    * `weight = round((1/cluster_size) · (1 − n_dup/n_paras), 9)`.
    *
    * Scale shape: cluster sizes are one narrow aggregate of the bounded
    * labels asset LEFT-joined back to doc ids; the paragraph profile is
    * one fp-keyed hash pass. No text moves; output is one narrow row per
    * document. */
  def softDedupWeights(docs: DataFrame, labels: DataFrame,
      paraDup: DataFrame): DataFrame = {
    val csize = labels.groupBy("cluster").agg(count(lit(1)).as("cs"))
    val dcs = docs.select("doc_id")
      .join(labels.join(csize, "cluster").select("doc_id", "cs"),
        Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("cs"), lit(1L)).as("cluster_size"))
    dcs.join(paraDup, "doc_id")
      .select(col("doc_id"), col("cluster_size"), col("n_paras"), col("n_dup"),
        round((lit(1.0) / col("cluster_size"))
          * (lit(1.0) - col("n_dup").cast("double") / col("n_paras")), 9)
          .as("weight"))
  }

  /** Weight-proportional SAMPLE over [[softDedupWeights]] — the soft
    * policy actually applied: each document survives with probability
    * equal to its soft weight, on the content-stable md5 coin every
    * sampler here uses (first 8 md5 hex digits of the doc id as a 32-bit
    * uniform; `u < weight` needs no rounding because /2³² is an exact
    * power-of-two division). An expected-cluster-mass-1, boilerplate-
    * discounted corpus in ONE map pass — no shuffle, no rank window. */
  def softDedupSample(weights: DataFrame): DataFrame = {
    val u = conv(substring(md5(col("doc_id").cast("string").cast("binary")), 1, 8),
      16, 10).cast("long").cast("double") / lit(4294967296.0)
    weights.withColumn("u", u)
      .where(col("u") < col("weight"))
      .select("doc_id", "weight", "u")
      .orderBy("doc_id")
  }

  /** Portable tokenized-text array (position-preserving), shared by the
    * n-gram operators and spelled identically in the DuckDB oracle. */
  private def tokenArray = expr(
    "filter(transform(filter(split(text, '\\\\s+'), t -> NOT t RLIKE '[0-9]'), " +
      "t -> regexp_replace(lower(t), '^[^a-z]+|[^a-z]+$', '')), t -> t <> '')")

  /** Dedup-threshold calibration curve — how aggressive each candidate
    * Jaccard cut would be: per threshold, the surviving pair count, the
    * documents touched by any pair, the drop candidates (the `doc_b`
    * side, [[applyDedup]]'s lower-precedence member), and the corpus drop
    * rate. The dedup twin of the manifest's quality-calibration curve: a
    * pipeline reads it BEFORE committing to a threshold, instead of
    * re-running the pair stage per candidate.
    *
    * Thresholds below the pair table's own floor would under-count
    * silently (the asset only holds pairs ≥ its build floor), so they
    * fail fast. Every threshold keeps its row even when no pair survives
    * (zeros, not absence).
    *
    * Scale shape: the collision-bounded pair table crosses a BROADCAST
    * handful-row threshold grid; aggregates are |grid|-bounded. The
    * corpus itself is never touched — `totalDocs` rides in as the
    * denominator. */
  def dedupThresholdCalibration(pairs: DataFrame, totalDocs: Long,
      thresholds: Seq[Double] = Seq(0.5, 0.6, 0.7, 0.8, 0.9),
      pairFloor: Double = 0.2): DataFrame = {
    require(thresholds.nonEmpty && thresholds.forall(_ >= pairFloor),
      s"thresholds ${thresholds.mkString(",")} must all be >= the pair " +
        s"table's build floor $pairFloor — lower cuts need a rebuilt pair table")
    val grid = pairs.sparkSession.createDataFrame(
      java.util.Arrays.asList(thresholds.map(org.apache.spark.sql.Row(_)): _*),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("tau",
          org.apache.spark.sql.types.DoubleType, nullable = false))))
    val hits = pairs.select("doc_a", "doc_b", "jaccard")
      .crossJoin(broadcast(grid))
      .where(col("jaccard") >= col("tau"))
      .scopedPersist()
    val pairStats = hits.groupBy("tau")
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct(col("doc_b")).as("n_drop_candidates"))
    val docStats = hits
      .select(col("tau"), explode(array(col("doc_a"), col("doc_b"))).as("doc"))
      .groupBy("tau").agg(countDistinct(col("doc")).as("n_docs_in_pairs"))
    grid.join(pairStats, Seq("tau"), "left").join(docStats, Seq("tau"), "left")
      .select(col("tau"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_docs_in_pairs"), lit(0L)).as("n_docs_in_pairs"),
        coalesce(col("n_drop_candidates"), lit(0L)).as("n_drop_candidates"),
        round(coalesce(col("n_drop_candidates"), lit(0L)).cast("double")
          / lit(totalDocs.toDouble), 9).as("drop_rate"))
      .orderBy("tau")
  }

  /** Cross-source duplication matrix — WHERE the near-duplication lives:
    * per unordered source pair, how many near-dup pairs cross it and how
    * strong they are. The audit a pipeline reads before deciding which
    * provenance to drop when two feeds mirror each other (the within-
    * source diagonal is mostly boilerplate; a hot off-diagonal cell is a
    * mirrored crawl). Input is the PRE-BUILT exact pair table (the shared
    * `ngram_pairs` corpus asset) plus the narrow `(doc_id, source)`
    * projection.
    *
    * Scale shape: the pair table is collision-bounded (Σ|bucket|², never
    * |corpus|²) and therefore far smaller than the corpus, so both
    * source-lookup joins keep the PAIR side as the small build side
    * against the narrow doc projection — the corpus text is never read;
    * the final aggregate is |sources|²-bounded. */
  def crossSourceDupMatrix(pairs: DataFrame, docSources: DataFrame,
      minJaccard: Double = 0.5): DataFrame = {
    val la = docSources.select(col("doc_id").as("doc_a"), col("source").as("src_a"))
    val lb = docSources.select(col("doc_id").as("doc_b"), col("source").as("src_b"))
    pairs.where(col("jaccard") >= minJaccard)
      .select("doc_a", "doc_b", "jaccard")
      .join(la, "doc_a").join(lb, "doc_b")
      .select(least(col("src_a"), col("src_b")).as("source_a"),
        greatest(col("src_a"), col("src_b")).as("source_b"), col("jaccard"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_pairs"),
        round(sum(col("jaccard").cast("decimal(18,9)")).cast("double")
          / count(lit(1)), 9).as("avg_jaccard"),
        max(col("jaccard")).as("max_jaccard"))
      .orderBy("source_a", "source_b")
  }

  /** Corpus-level containment — the dataset-acquisition audit number:
    * what fraction of the INCOMING split's distinct 3-grams the INGESTED
    * split already holds (plus the symmetric Jaccard). Per-doc
    * decontamination ([[graft.operators.Curation.decontaminate]]) answers
    * "which documents leak"; this answers "is the new feed worth
    * ingesting at all" with one row.
    *
    * Scale shape: one gram-keyed aggregate carrying two 0/1 flags (the
    * same shuffle family as the boilerplate-gram scan), then a one-row
    * total — no pair join anywhere. At 100 TB the exact gram aggregate is
    * the expensive-but-linear path; [[corpusContainmentHllGate]] is the
    * sketch staging of the same number. */
  def corpusContainment(docs: DataFrame, isIngested: Column): DataFrame = {
    val grams = docs
      .select(col("doc_id"), tokenArray.as("a"), isIngested.as("ing"))
      .where(size(col("a")) >= 3)
      .select(col("ing"), explode(expr(
        "array_distinct(transform(sequence(1, size(a) - 2), i -> " +
          "concat_ws(' ', element_at(a, i), element_at(a, i + 1), element_at(a, i + 2))))"))
        .as("gram"))
      .groupBy("gram")
      .agg(max(when(col("ing"), 1L).otherwise(0L)).as("in_a"),
        max(when(!col("ing"), 1L).otherwise(0L)).as("in_b"))
    grams.agg(
        sum("in_a").as("n_grams_ingested"),
        sum("in_b").as("n_grams_incoming"),
        sum(col("in_a") * col("in_b")).as("n_shared"))
      .select(col("n_grams_ingested"), col("n_grams_incoming"), col("n_shared"),
        when(col("n_grams_incoming") > 0,
          round(col("n_shared").cast("double") / col("n_grams_incoming"), 9))
          .otherwise(lit(0.0)).as("containment"),
        when(col("n_grams_ingested") + col("n_grams_incoming") > col("n_shared"),
          round(col("n_shared").cast("double")
            / (col("n_grams_ingested") + col("n_grams_incoming") - col("n_shared")), 9))
          .otherwise(lit(0.0)).as("jaccard"))
  }

  /** Sketch staging of [[corpusContainment]] (driver-visible THROW gate):
    * per-split HLL sketches of the gram sets — mergeable, constant-size,
    * buildable shard-by-shard without ever co-shuffling the two corpora —
    * with the shared-gram count recovered by inclusion–exclusion
    * (|A∩B| = |A| + |B| − |A∪B|). THROWs when the sketch containment
    * drifts more than `tol` (absolute) from the exact number, the same
    * honest-comparison pattern as every other sketch gate here. Note the
    * error bar: inclusion–exclusion amplifies the HLL relative error when
    * the overlap is small relative to the union — `tol` is absolute for
    * exactly that reason. */
  def corpusContainmentHllGate(docs: DataFrame, isIngested: Column,
      lgK: Int = 14, tol: Double = 0.05): DataFrame = CacheScope {
    import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
    // ONE gram pass feeds both the sketches and the exact check (r16):
    // the gate previously exploded + aggregated the full corpus twice.
    // HLL registers depend only on the SET of hashed values, so sketching
    // the deduplicated per-gram side table yields bit-identical sketches
    // to sketching the raw gram stream — the estimates, and the gate's
    // output row, are unchanged. The pinned frame is the distinct-gram
    // table (vocabulary-sized), not the exploded stream.
    val grams = docs
      .select(col("doc_id"), tokenArray.as("a"), isIngested.as("ing"))
      .where(size(col("a")) >= 3)
      .select(col("ing"), explode(expr(
        "array_distinct(transform(sequence(1, size(a) - 2), i -> " +
          "concat_ws(' ', element_at(a, i), element_at(a, i + 1), element_at(a, i + 2))))"))
        .as("gram"))
      .groupBy("gram")
      .agg(max(when(col("ing"), 1L).otherwise(0L)).as("in_a"),
        max(when(!col("ing"), 1L).otherwise(0L)).as("in_b"))
      .scopedPersist()
    val sk = grams
      .select(col("gram"), explode(array(
        when(col("in_a") === 1L, lit(true)),
        when(col("in_b") === 1L, lit(false)))).as("ing"))
      .where(col("ing").isNotNull)
      .groupBy("ing").agg(hll_sketch_agg(col("gram"), lit(lgK)).as("sketch"))
      .scopedPersist()
    val est = sk.agg(
        hll_sketch_estimate(hll_union_agg(col("sketch"), lit(false))).as("n_union"))
      .crossJoin(sk.where(col("ing"))
        .select(hll_sketch_estimate(col("sketch")).as("n_a")))
      .crossJoin(sk.where(!col("ing"))
        .select(hll_sketch_estimate(col("sketch")).as("n_b")))
      .select(col("n_a"), col("n_b"),
        greatest(col("n_a") + col("n_b") - col("n_union"), lit(0L)).as("n_shared_est"))
      .select(col("n_a"), col("n_b"), col("n_shared_est"),
        when(col("n_b") > 0,
          round(col("n_shared_est").cast("double") / col("n_b"), 9))
          .otherwise(lit(0.0)).as("containment_est"))
    val exact = grams.agg(
        sum("in_a").as("n_grams_ingested"),
        sum("in_b").as("n_grams_incoming"),
        sum(col("in_a") * col("in_b")).as("n_shared"))
      .select(
        when(col("n_grams_incoming") > 0,
          round(col("n_shared").cast("double") / col("n_grams_incoming"), 9))
          .otherwise(lit(0.0)).as("containment"))
    // an empty split would make its sketch row vanish and the cross join
    // empty — fail with the real reason instead of a bare NoSuchElement
    val rows = est.crossJoin(exact).collect()
    require(rows.nonEmpty,
      "containment gate needs gram-bearing documents on BOTH sides of the " +
        "split — one side is empty, so there is no containment to check")
    val row = rows.head
    val (cEst, cExact) = (row.getDouble(3), row.getDouble(4))
    require(math.abs(cEst - cExact) <= tol,
      f"HLL containment $cEst%.4f drifts more than $tol%.2f from exact $cExact%.4f " +
        f"(lgK=$lgK, |A|=${row.getLong(0)}, |B|=${row.getLong(1)})")
    docs.sparkSession.createDataFrame(
      java.util.Arrays.asList(org.apache.spark.sql.Row(
        row.getLong(0), row.getLong(1), row.getLong(2), cEst, cExact)),
      StructType(Seq(
        StructField("n_a_est", LongType, nullable = false),
        StructField("n_b_est", LongType, nullable = false),
        StructField("n_shared_est", LongType, nullable = false),
        StructField("containment_est", DoubleType, nullable = false),
        StructField("containment_exact", DoubleType, nullable = false))))
  }

  /** Coverage accounting for [[ngramJaccardExact]]'s boilerplate-gram cap:
    * one summary row of how many distinct grams (and how many (doc, gram)
    * rows) the df > `maxGramDf` cap removes from the verifier's view — the
    * "what did we silently not compare" stat that must ship next to any
    * capped operator. ANSI-SQL-expressible (oracle-checked). */
  def gramCapCoverage(docs: DataFrame, maxGramDf: Int = 64): DataFrame = {
    val dfs = docs
      .select(col("doc_id"), tokenArray.as("a"))
      .where(size(col("a")) >= 3)
      .select(col("doc_id"), explode(expr(
        "array_distinct(transform(sequence(1, size(a) - 2), i -> " +
          "concat_ws(' ', element_at(a, i), element_at(a, i + 1), element_at(a, i + 2))))"))
        .as("gram"))
      .groupBy("gram").agg(count(lit(1)).as("gram_df"))
    dfs.agg(
      count(lit(1)).as("n_grams"),
      coalesce(sum(when(col("gram_df") > maxGramDf, 1L).otherwise(0L)), lit(0L))
        .as("n_dropped_grams"),
      coalesce(sum(col("gram_df")), lit(0L)).as("n_doc_gram_rows"),
      coalesce(sum(when(col("gram_df") > maxGramDf, col("gram_df")).otherwise(0L)),
        lit(0L)).as("n_dropped_rows"))
  }

  /** Exact token 3-gram Jaccard for every pair sharing ≥1 gram, at
    * `minJaccard` or above. ANSI-SQL-expressible (oracle-checked).
    *
    * Boilerplate-gram cap: a gram appearing in d documents contributes
    * d·(d−1)/2 rows to the shared-gram self-join — one corpus-wide header
    * 3-gram in 100k docs is 10¹⁰ join rows, the classic near-dup scale
    * killer. Grams with document frequency above `maxGramDf` are dropped
    * from BOTH the numerator and the denominators (Jaccard over the
    * non-boilerplate gram sets — the same move as stop-word removal, and
    * the standard semantics for content-overlap dedup), so every gram
    * contributes at most `maxGramDf`² join rows and the join is bounded by
    * |grams|·maxGramDf regardless of corpus size. The dropped grams are
    * exactly [[graft.operators.Curation.boilerplateGrams]]' output above
    * the cap, reportable as a coverage stat. */
  /** Distinct token 3-grams per document `(doc_id, gram)` — the pair
    * family's gram domain, shared by [[ngramJaccardExact]] and the
    * incremental near-dup stores ([[nearDupFlagsIncremental]]'s postings
    * / gram-df snapshots are built from exactly this spelling, so store
    * and probe agree gram-for-gram). Per-doc dedup in the ARRAY domain:
    * same result as explode-then-distinct without the corpus-wide string
    * shuffle. */
  private[graft] def distinctGramRows(docs: DataFrame): DataFrame =
    docs
      // route on a prebuilt `tokens` column (the Curation.tokenStream
      // idiom): a caller that already tokenized — the manifest admission
      // pins the batch's token arrays for its other stages — must not pay
      // the regex pass a second time; raw documents tokenize as before
      .select(col("doc_id"),
        (if (docs.columns.contains("tokens")) col("tokens") else tokenArray).as("a"))
      .where(size(col("a")) >= 3)
      .select(col("doc_id"), explode(expr(
        "array_distinct(transform(sequence(1, size(a) - 2), i -> " +
          "concat_ws(' ', element_at(a, i), element_at(a, i + 1), element_at(a, i + 2))))"))
        .as("gram"))

  def ngramJaccardExact(docs: DataFrame, minJaccard: Double = 0.5,
      maxGramDf: Int = 64): DataFrame = {
    val grams = distinctGramRows(docs)
      // join key = 64-bit gram hash FIRST, exact gram equality second: the
      // sort-merge compares/sorts resolve on the long almost always and only
      // fall through to the string on hash-equal rows, while the retained
      // gram equality keeps the count collision-proof (exact verifier).
      .withColumn("gh", xxhash64(col("gram")))
      // one scan+tokenize feeds three consumers (gram-DF agg, sizes, both
      // self-join sides); persist the narrow (doc_id, gram, gh) rows once
      .scopedPersist()
    // gram document frequency on the hash-first key; rows are distinct per
    // (doc, gram) by construction so count(*) IS the df
    val okGrams = grams.groupBy("gh", "gram")
      .agg(count(lit(1)).as("gram_df"))
      .where(col("gram_df") <= maxGramDf)
      .select("gh", "gram")
    val kept = grams.join(okGrams, Seq("gh", "gram"))
    val sizes = kept.groupBy("doc_id").agg(count(lit(1)).as("n_grams"))
    val shared = kept.as("ga")
      .join(kept.as("gb"),
        col("ga.gh") === col("gb.gh") && col("ga.gram") === col("gb.gram"))
      .where(col("ga.doc_id") < col("gb.doc_id"))
      .groupBy(col("ga.doc_id").as("doc_a"), col("gb.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
    shared
      .join(sizes.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("n_grams", "grams_a"), "doc_a")
      .join(sizes.withColumnRenamed("doc_id", "doc_b")
        .withColumnRenamed("n_grams", "grams_b"), "doc_b")
      .withColumn("jaccard", round(col("n_shared").cast("double") /
        (col("grams_a") + col("grams_b") - col("n_shared")), 9))
      .where(col("jaccard") >= minJaccard)
      .select("doc_a", "doc_b", "n_shared", "grams_a", "grams_b", "jaccard")
      .orderBy("doc_a", "doc_b")
  }

  /** The pair-stage TAIL of [[ngramJaccardExact]] over a STORED kept-gram
    * postings table `(doc_id, gram)` (already df-capped — the
    * [[nearDupFlagsIncremental]] store contract) and its per-doc kept
    * sizes `(doc_id, n_grams)`: shared-gram self-join → Jaccard ≥
    * `minJaccard`, row-identical to `ngramJaccardExact(docs, minJaccard,
    * cap)` whenever the postings were built from `distinctGramRows(docs)`
    * under the same df cap (same gram domain, same kept set, same sizes).
    * Exists so a snapshot's label closure reuses the postings/sizes
    * parquet the incremental store already persists instead of
    * re-tokenizing the slice and re-aggregating gram dfs (sf0.1:
    * dedup_labels_old90 build 16.5 → ~9 s). Output is UNORDERED (the
    * closure consumer is order-free); order explicitly if serving. */
  def ngramJaccardFromPostings(postings: DataFrame, sizes: DataFrame,
      minJaccard: Double = 0.5): DataFrame = {
    // hash-first join key, same reasoning as ngramJaccardExact; persist the
    // narrow rows once for the self-join's two sides
    val kept = postings.select(col("doc_id"), col("gram"))
      .withColumn("gh", xxhash64(col("gram")))
      .scopedPersist()
    val shared = kept.as("ga")
      .join(kept.as("gb"),
        col("ga.gh") === col("gb.gh") && col("ga.gram") === col("gb.gram"))
      .where(col("ga.doc_id") < col("gb.doc_id"))
      .groupBy(col("ga.doc_id").as("doc_a"), col("gb.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
    shared
      .join(sizes.select(col("doc_id").as("doc_a"), col("n_grams").as("grams_a")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("n_grams").as("grams_b")), "doc_b")
      .withColumn("jaccard", round(col("n_shared").cast("double") /
        (col("grams_a") + col("grams_b") - col("n_shared")), 9))
      .where(col("jaccard") >= minJaccard)
      .select("doc_a", "doc_b", "n_shared", "grams_a", "grams_b", "jaccard")
  }
}
