package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.functions.TextFunctions

/** In-frame quality CLASSIFIER — the fastText-classifier-shaped component a
  * production data pipeline pairs with its rule-based filters: a logistic
  * model over the one-pass text-surface statistics, trained DataFrame-side
  * by full-batch gradient descent and scored corpus-wide as one codegen'd
  * map stage.
  *
  * The training target is the Gopher rule conjunction
  * ([[TextAnalysis.gopherRules]] `pass`) — the rule-distillation shape used
  * in practice: hard heuristic labels in, a smooth calibrated score out, so
  * downstream curation can threshold, sample by score, or inspect the
  * documents where the smooth model DISAGREES with the brittle rules
  * (the [[disagreementsWith]] query).
  *
  * Reference scope note: the reference engine (NZJ-Jimmy/TF-IDF_MapReduce,
  * WordCount.java:61-100 normalize→count) stops at TF-IDF; this extends the
  * same scan machinery to the model-based quality scoring step an LLM data
  * pipeline runs beside it.
  *
  * Scale design (100 TB): training touches the corpus as (a) ONE surface
  * scan producing 9 doubles per document, (b) ONE standardization
  * aggregate, then (c) `iters` gradient aggregates over the CACHED
  * 9-column feature frame — each a tree-aggregated 9-scalar reduce (the
  * distributed-LR shape MLlib uses). Nothing driver-side ever holds more
  * than 9 weights. Scoring is a single whole-stage-codegen map over the
  * surface scan with the 9 weights inlined as literals — no join, no
  * shuffle.
  *
  * Determinism (the md5-portable claim, pinned by [[layoutDeterminismGate]]
  * and the cross-layout spec): every cross-row reduction routes through
  * DECIMAL(28,9) after a `round(·, 9)` — decimal sums are exact and
  * order-independent, so gradients (and therefore the trained weights) are
  * bit-identical under any partitioning. Per-row arithmetic is fixed-order
  * IEEE double work (`exp` ulp wobble is damped by the per-step round-9,
  * the house rule), and the driver-side weight update re-rounds with the
  * same HALF_UP scale-9 rule Spark's `round` applies.
  */
object QualityClassifier {

  /** Feature order is the MODEL's contract: weights, oracle SQL, and the
    * scoring expression all index features by this sequence. */
  val FeatureNames: Seq[String] =
    Seq("x_alpha", "x_digit", "x_punct", "x_ws", "x_stop", "x_mwl", "x_awf", "x_wc")

  val DefaultIters = 30
  val DefaultLr = 1.0

  /** Trained model: intercept + one (weight, mean, std) triple per feature.
    * `sigma(j) == 0` marks a constant feature (its z-score is defined as 0,
    * so the weight stays at its 0 init — degenerate features are inert, not
    * NaN factories). */
  final case class Model(intercept: Double, weights: Array[Double],
      mu: Array[Double], sigma: Array[Double]) {
    require(weights.length == FeatureNames.size &&
      mu.length == FeatureNames.size && sigma.length == FeatureNames.size,
      "model arity must match FeatureNames")
  }

  /** Spark's `round(expr, 9)` on the driver: HALF_UP at scale 9 via the
    * exact decimal expansion of the double (the RpProject kernel rule —
    * `BigDecimal.valueOf` goes through the double's shortest decimal
    * rendering exactly like Spark's Round expression). */
  private def round9(x: Double): Double =
    java.math.BigDecimal.valueOf(x).setScale(9, java.math.RoundingMode.HALF_UP)
      .doubleValue()

  /** Locale-independent fixed-9 decimal rendering for version stamps and
    * digests — the `f"%.9f"` interpolator formats with the JVM DEFAULT
    * locale, so a comma-decimal locale would shift every CRC and fake a
    * model change on the refresh protocol. */
  private def fmt9(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.9f", Double.box(v))

  /** Raw features + rule label in ONE one-pass surface scan (no second
    * gopherRules join — the same `surfaceStats` struct feeds both). Every
    * column is spelled identically in the DuckDB oracle CTE. `carry`
    * names extra input columns to ride along (e.g. `source` for the
    * mixing sampler), keeping downstream consumers single-pass.
    *
    * DEGENERATE documents (zero characters, or zero tokens) have no
    * defined ratio features: the char-ratio columns are NULL when
    * `n_chars = 0` and the token-ratio columns NULL when `n_tokens = 0`
    * (guarded divisions — never a divide-by-zero, ANSI or not). Their
    * rule label `y` is still a hard 0 (a token-less document cannot pass
    * the ≥50-token rule), downstream scoring yields NULL score/pred for
    * them (documented on [[scoreRows]]), and [[fit]] excludes them from
    * training so they cannot bias the standardization moments or the
    * gradient scale. */
  def featureFrame(docs: DataFrame, carry: Seq[String] = Nil): DataFrame = {
    val st = TextFunctions.surfaceStats(col("text"))
    val n = st.getField("n_chars").cast("double")
    val alpha = st.getField("n_alpha").cast("double")
    val digit = st.getField("n_digit").cast("double")
    val punct = st.getField("n_punct").cast("double")
    val ws = st.getField("n_ws").cast("double")
    val nTok = st.getField("n_tokens")
    val nTokD = nTok.cast("double")
    val stopHits = st.getField("n_stop_hits")
    // charRatio/tokRatio: NULL (not an error, not a NaN) on degenerate
    // documents — the `when` keeps the division inside the guarded branch
    val charRatio = (c: Column) => when(n > 0.0, round(c / n, 9))
    val tokRatio = (c: Column) => when(nTokD > 0.0, round(c / nTokD, 9))
    val meanLen = tokRatio(st.getField("sum_word_len").cast("double"))
    val alphaFrac = tokRatio(st.getField("n_alpha_words").cast("double"))
    val pass = nTok >= 50L && nTok <= 100000L &&
      meanLen >= 3.0 && meanLen <= 10.0 && alphaFrac >= 0.8 && stopHits >= 2L
    docs.select(
      (col("doc_id") +: carry.map(col)) ++ Seq(
      charRatio(alpha).as("x_alpha"),
      charRatio(digit).as("x_digit"),
      charRatio(punct).as("x_punct"),
      charRatio(ws).as("x_ws"),
      tokRatio(stopHits.cast("double")).as("x_stop"),
      when(nTokD > 0.0,
        round(st.getField("sum_word_len").cast("double") / nTokD / lit(10.0), 9))
        .as("x_mwl"),
      alphaFrac.as("x_awf"),
      round(least(nTokD, lit(1000.0)) / lit(1000.0), 9).as("x_wc"),
      pass.cast("double").as("y")): _*)
  }

  private val dec = DecimalType(28, 9)

  /** Standardization statistics in one aggregate: per feature the
    * decimal-routed mean and the population std via E[x²] − E[x]²
    * (each moment rounded to 9 before the subtraction, matching the
    * oracle's spelling digit for digit). Contract: every input row has
    * all features non-null ([[fit]] pre-filters degenerate documents), so
    * the all-row `count` IS the per-feature denominator. */
  private def fitStats(feats: DataFrame): (Long, Array[Double], Array[Double]) = {
    val aggs = count(lit(1)).as("n_docs") +:
      FeatureNames.flatMap { f =>
        Seq(sum(col(f).cast(dec)).as(s"sx_$f"),
          sum(round(col(f) * col(f), 9).cast(dec)).as(s"sxx_$f"))
      }
    val row = feats.agg(aggs.head, aggs.tail: _*).head()
    val nD = row.getAs[Long]("n_docs").toDouble
    val mu = new Array[Double](FeatureNames.size)
    val sigma = new Array[Double](FeatureNames.size)
    FeatureNames.zipWithIndex.foreach { case (f, j) =>
      val sx = row.getAs[java.math.BigDecimal](s"sx_$f").doubleValue()
      val sxx = row.getAs[java.math.BigDecimal](s"sxx_$f").doubleValue()
      val m = round9(sx / nD)
      mu(j) = m
      sigma(j) = round9(math.sqrt(math.max(round9(sxx / nD) - m * m, 0.0)))
    }
    (row.getAs[Long]("n_docs"), mu, sigma)
  }

  /** Z-score columns for a known (mu, sigma) — literals inlined so the
    * transform is pure codegen map work. */
  private def zCols(mu: Array[Double], sigma: Array[Double]): Seq[Column] =
    FeatureNames.zipWithIndex.map { case (f, j) =>
      if (sigma(j) > 0.0) round((col(f) - lit(mu(j))) / lit(sigma(j)), 9).as(s"z_$f")
      else lit(0.0).as(s"z_$f")
    }

  /** The fixed-order logistic linear term over z-columns: `wb + Σ wj·zj`
    * rounded to 9 (left-associated addition, the oracle's exact order). */
  private def zLinear(intercept: Double, w: Array[Double]): Column =
    round(FeatureNames.zipWithIndex.foldLeft(lit(intercept): Column) {
      case (acc, (f, j)) => acc + lit(w(j)) * col(s"z_$f")
    }, 9)

  private def sigmoid9(z: Column): Column =
    round(lit(1.0) / (lit(1.0) + exp(-z)), 9)

  /** Full-batch gradient descent, `iters` fixed iterations from a zero
    * init. Each iteration is ONE aggregate over the pinned z-frame:
    * `g_j = Σ round((p − y)·z_j, 9)` as DECIMAL(28,9) (order-independent),
    * then the 9-scalar driver update `w ← round9(w − lr·g/n)`.
    *
    * THROW gate: the decimal-summed mean log-loss of the trained model must
    * beat the zero-init loss (ln 2) — a silently diverged fit (bad lr)
    * fails the build instead of shipping a worse-than-chance scorer. */
  def fit(feats: DataFrame, iters: Int = DefaultIters, lr: Double = DefaultLr): Model =
    fit(feats, iters, lr, localRowThreshold = 500000L)

  /** [[fit]] with the driver-local loop's row limit as a parameter; 0
    * forces the distributed gradient loop (specs). */
  private[graft] def fit(feats: DataFrame, iters: Int, lr: Double,
      localRowThreshold: Long): Model = {
    // training set = rows with every feature defined: degenerate documents
    // (zero chars / zero tokens → NULL ratio features, see [[featureFrame]])
    // would otherwise skew mu/sigma (null-skipping sums over an all-row
    // count) and the gradient scale 1/n
    val trainable = feats.where(FeatureNames.map(col(_).isNotNull).reduce(_ && _))
    val (n, mu, sigma) = fitStats(trainable)
    require(n > 0, "cannot fit a classifier: no trainable documents — the " +
      "corpus is empty or every document is degenerate (zero chars / zero " +
      "tokens, excluded from training by the NULL-feature filter)")
    val nD = n.toDouble
    // BROADCAST-SIZED training sets iterate on the driver: fitStats just
    // counted the trainable rows, and when n × 9 doubles is collect-sized
    // (`localRowThreshold`, 500k rows ≈ 40 MB)
    // the 30-iteration loop costs ONE collect instead of 30+1 tiny
    // synchronized aggregate jobs — the loop was pure job latency at any
    // n this small (measured: each iteration ~60-120 ms of scheduling for
    // <1 ms of arithmetic). The math is the SAME spelling: left-
    // associated double linear term, round-to-9 via BigDecimal.valueOf
    // (identical to the engine's Round), exact decimal gradient sums
    // (order-free), so weights are bit-identical to the distributed loop
    // — spec-pinned, and the layout gate + DuckDB oracle both replay it.
    // Corpus-sized training sets (the 100 TB posture) keep the
    // distributed loop below.
    if (n <= localRowThreshold) return fitLocal(trainable, mu, sigma, n, iters, lr)
    val zf = trainable.select((col("y") +: zCols(mu, sigma)): _*).scopedPersist()
    zf.count() // pin: 30 iterations re-read this frame, never the corpus
    try {
      var intercept = 0.0
      val w = new Array[Double](FeatureNames.size)
      for (_ <- 0 until iters) {
        val p = sigmoid9(zLinear(intercept, w))
        val diff = p - col("y")
        val aggs = sum(round(diff * lit(1.0), 9).cast(dec)).as("gb") +:
          FeatureNames.map(f => sum(round(diff * col(s"z_$f"), 9).cast(dec)).as(s"g_$f"))
        val row = zf.agg(aggs.head, aggs.tail: _*).head()
        intercept = round9(intercept - lr * row.getAs[java.math.BigDecimal]("gb")
          .doubleValue() / nD)
        FeatureNames.zipWithIndex.foreach { case (f, j) =>
          w(j) = round9(w(j) - lr * row.getAs[java.math.BigDecimal](s"g_$f")
            .doubleValue() / nD)
        }
      }
      val loss = meanLogLoss(zf, Model(intercept, w, mu, sigma))
      require(loss < 0.6931471805599453, // ln 2 = the zero-init loss, exact
        s"classifier training diverged: final log-loss $loss >= ln 2")
      Model(intercept, w, mu, sigma)
    } finally zf.unpersist()
  }

  /** The driver-local twin of the distributed gradient loop — one collect
    * of the z-frame, then the identical arithmetic: per row the left-
    * associated linear term rounded to 9, sigmoid rounded to 9, per-
    * feature gradient terms rounded to 9 and summed as exact decimals
    * (order-free, so local iteration order cannot diverge from the
    * engine's partial aggregation), then the same 9-rounded weight
    * update. Called only when `n` is under the collect threshold. */
  private def fitLocal(trainable: DataFrame, mu: Array[Double],
      sigma: Array[Double], n: Long, iters: Int, lr: Double): Model = {
    val nD = n.toDouble
    val k = FeatureNames.size
    val data = trainable.select((col("y") +: zCols(mu, sigma)): _*)
      .collect().map(r => Array.tabulate(k + 1)(r.getDouble))
    def bd9(x: Double): java.math.BigDecimal =
      java.math.BigDecimal.valueOf(round9(x))
    def linear9(intercept: Double, w: Array[Double], row: Array[Double]): Double = {
      var z = intercept
      var j = 0
      while (j < w.length) { z += w(j) * row(j + 1); j += 1 }
      round9(z)
    }
    def sig9(z: Double): Double = round9(1.0 / (1.0 + math.exp(-z)))
    var intercept = 0.0
    val w = new Array[Double](k)
    for (_ <- 0 until iters) {
      var gb = java.math.BigDecimal.ZERO
      val g = Array.fill(k)(java.math.BigDecimal.ZERO)
      data.foreach { row =>
        val diff = sig9(linear9(intercept, w, row)) - row(0)
        gb = gb.add(bd9(diff * 1.0))
        var j = 0
        while (j < k) { g(j) = g(j).add(bd9(diff * row(j + 1))); j += 1 }
      }
      intercept = round9(intercept - lr * gb.doubleValue() / nD)
      var j = 0
      while (j < k) {
        w(j) = round9(w(j) - lr * g(j).doubleValue() / nD)
        j += 1
      }
    }
    val model = Model(intercept, w, mu, sigma)
    var s = java.math.BigDecimal.ZERO
    data.foreach { row =>
      val p = sig9(linear9(model.intercept, model.weights, row))
      s = s.add(bd9(-(row(0) * math.log(math.max(p, 1e-9)) +
        (1.0 - row(0)) * math.log(math.max(1.0 - p, 1e-9)))))
    }
    val loss = s.doubleValue() / n
    require(loss < 0.6931471805599453, // ln 2 = the zero-init loss, exact
      s"classifier training diverged: final log-loss $loss >= ln 2")
    model
  }

  /** Decimal-summed mean log-loss of `model` over a z-frame (training
    * diagnostics + the divergence gate; clamped away from log 0). */
  private def meanLogLoss(zf: DataFrame, model: Model): Double = {
    val p = sigmoid9(zLinear(model.intercept, model.weights))
    val term = -(col("y") * log(greatest(p, lit(1e-9))) +
      (lit(1.0) - col("y")) * log(greatest(lit(1.0) - p, lit(1e-9))))
    val row = zf.agg(sum(round(term, 9).cast(dec)).as("s"), count(lit(1)).as("n")).head()
    row.getAs[java.math.BigDecimal]("s").doubleValue() / row.getAs[Long]("n")
  }

  /** The model as its 9-row storable form `(feature, weight, mu, sigma)` —
    * `_intercept` carries (0, 1) standardization so [[modelFromRows]] can
    * rebuild scoring without special cases. */
  def weightsDf(spark: SparkSession, model: Model): DataFrame = {
    import spark.implicits._
    val rows = ("_intercept", round9(model.intercept), 0.0, 1.0) +:
      FeatureNames.zipWithIndex.map { case (f, j) =>
        (f, round9(model.weights(j)), model.mu(j), model.sigma(j))
      }
    rows.toDF("feature", "weight", "mu", "sigma").orderBy("feature")
  }

  /** Rebuild a [[Model]] from its stored 9-row form (bounded collect — 9
    * rows by schema, the PQ-codebook pattern). */
  def modelFromRows(weights: DataFrame): Model = {
    val m = weights.select("feature", "weight", "mu", "sigma").collect()
      .map(r => r.getString(0) -> ((r.getDouble(1), r.getDouble(2), r.getDouble(3))))
      .toMap
    require(m.contains("_intercept") && FeatureNames.forall(m.contains),
      s"stored classifier weights are missing features: got ${m.keySet}")
    Model(m("_intercept")._1,
      FeatureNames.map(f => m(f)._1).toArray,
      FeatureNames.map(f => m(f)._2).toArray,
      FeatureNames.map(f => m(f)._3).toArray)
  }

  /** Unordered scoring rows for a known [[Model]] — the stateless form a
    * STREAM micro-batch scores with (streams cannot sort; batch callers
    * order on top). One codegen map pass, weights inlined as literals.
    * Degenerate documents (NULL ratio features, see [[featureFrame]])
    * come through with NULL score and NULL pred — kept visible for the
    * caller to route, never silently dropped (in [[manifestByClassifier]]
    * their `kept_clf` is NULL — "no model verdict" — unless a dedup/decon
    * flag already forces the drop to a hard 0). */
  def scoreRows(docs: DataFrame, model: Model, carry: Seq[String] = Nil): DataFrame = {
    val zf = featureFrame(docs, carry).select(
      ((col("doc_id") +: carry.map(col)) ++ (col("y") +: zCols(model.mu, model.sigma))): _*)
    val p = sigmoid9(zLinear(model.intercept, model.weights))
    zf.select((col("doc_id") +: carry.map(col)) ++ Seq(
      col("y").cast("long").as("label"),
      p.as("score"), (p >= 0.5).cast("long").as("pred")): _*)
  }

  /** Corpus-wide scoring from a STORED model: one codegen map pass over the
    * surface scan, weights inlined as literals (no join — the asset is 9
    * rows). Output: (doc_id, label, score, pred), doc_id-ordered. */
  def scoreWith(docs: DataFrame, weights: DataFrame): DataFrame =
    scoreRows(docs, modelFromRows(weights)).orderBy("doc_id")

  /** Score-weighted stable sampling — the step a pipeline takes once it
    * trusts the distilled model: each document survives with probability
    * equal to its classifier SCORE (smooth quality-proportional retention,
    * vs the rule conjunction's hard keep/drop). The coin is the house
    * md5-uniform ([[TextAnalysis.stableSample]]'s key hash mapped to
    * [0, 1) by the exact power-of-two division, so the comparison is
    * bit-portable to the SQL oracle): content-stable — the same documents
    * survive on every engine and every run — and pure map work on top of
    * the one-pass scoring scan (no shuffle, no rank window; holds at any
    * corpus size). Output: the surviving rows (doc_id, score, u),
    * doc_id-ordered. */
  def scoreWeightedSample(docs: DataFrame, weights: DataFrame): DataFrame = {
    val model = modelFromRows(weights)
    // first 8 md5 hex digits as a 32-bit uniform; /2^32 is an exact
    // power-of-two division of an exactly-representable integer, so `u`
    // is BIT-identical on any engine and `u < score` needs no rounding
    val u = conv(substring(md5(col("doc_id").cast("string").cast("binary")), 1, 8),
      16, 10).cast("long").cast("double") / lit(4294967296.0)
    scoreRows(docs, model)
      .withColumn("u", u)
      .where(col("u") < col("score"))
      .select("doc_id", "score", "u")
      .orderBy("doc_id")
  }

  /** Score-weighted source MIXING — domain mixing and quality weighting
    * as ONE coin flip: a document from source `s` survives with
    * probability `rates(s) × score` (its domain rate scaled by its own
    * classifier score), so a 0.4-rate web source keeps its best
    * documents at nearly 0.4 and its worst at nearly 0 — the
    * quality-aware refinement of [[TextAnalysis.weightedSourceSample]]'s
    * flat per-source rates. Sources absent from `rates` keep nothing
    * (rate 0, the flat sampler's contract). The coin is the same exact
    * md5 uniform; the threshold is one IEEE multiply of two
    * bit-portable doubles, so `u < rate·score` is engine-exact with no
    * rounding. Single pass: `source` rides through the scoring scan
    * (`carry`), no join. Output: surviving (doc_id, source, score, u),
    * doc_id-ordered. */
  def scoreWeightedSourceSample(docs: DataFrame, weights: DataFrame,
      rates: Map[String, Double]): DataFrame = {
    val model = modelFromRows(weights)
    val u = conv(substring(md5(col("doc_id").cast("string").cast("binary")), 1, 8),
      16, 10).cast("long").cast("double") / lit(4294967296.0)
    val rate = rates.foldLeft(lit(0.0): Column) { case (acc, (source, r)) =>
      when(col("source") === source, lit(r)).otherwise(acc)
    }
    scoreRows(docs, model, carry = Seq("source"))
      .withColumn("u", u)
      .where(col("u") < rate * col("score"))
      .select("doc_id", "source", "score", "u")
      .orderBy("doc_id")
  }

  /** The curation manifest re-cut by the CLASSIFIER: the rule-based
    * per-source bottom-quartile `low_quality` rank cut (two window
    * functions per source at 100 TB) is replaced by the model's own
    * threshold predicate `score >= 0.5` — a pure map decision with NO
    * per-source sort, the scale win that motivates distillation. Joins the
    * stored manifest (dedup/decon flags unchanged) with the scoring scan
    * and reports both verdicts per document so the switch is auditable.
    * Output: (doc_id, source, n_tokens, score, kept_rule, kept_clf,
    * changed), doc_id-ordered. */
  def manifestByClassifier(manifest: DataFrame, docs: DataFrame,
      weights: DataFrame): DataFrame = {
    val scores = scoreRows(docs, modelFromRows(weights))
      .select(col("doc_id"), col("score"), col("pred"))
    manifest
      .select("doc_id", "source", "n_tokens", "exact_dup", "near_dup",
        "contaminated", "kept")
      .join(scores, "doc_id")
      .select(col("doc_id"), col("source"), col("n_tokens"), col("score"),
        col("kept").as("kept_rule"),
        (col("exact_dup") === 0 && col("near_dup") === 0 &&
          col("contaminated") === 0 && col("pred") === 1)
          .cast("long").as("kept_clf"))
      .withColumn("changed", (col("kept_rule") =!= col("kept_clf")).cast("long"))
      .orderBy("doc_id")
  }

  /** Per-source switch-impact summary over [[manifestByClassifier]]: the
    * 2×2 (kept_rule, kept_clf) cell counts with document AND token mass —
    * the table a curation owner reads before flipping the quality cut from
    * rules to the model (token mass is what the training batch actually
    * feels). */
  def manifestClassifierDelta(manifest: DataFrame, docs: DataFrame,
      weights: DataFrame): DataFrame =
    manifestByClassifier(manifest, docs, weights)
      .groupBy("source", "kept_rule", "kept_clf")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("n_tokens"))
      .orderBy("source", "kept_rule", "kept_clf")

  /** Content-derived version stamp of a stored weights asset (bounded — 9
    * rows by schema): moves iff the model's values move, so a stream
    * serving layer ([[graft.streaming.Streams.withRefreshingModel]]) can
    * poll it per micro-batch and re-broadcast only on a real retrain.
    * Deterministic across JVMs (fixed decimal rendering, fixed order). */
  def modelVersion(weights: DataFrame): Long = {
    val m = modelFromRows(weights)
    val rendered = (fmt9(m.intercept) +:
      FeatureNames.indices.flatMap(j => Seq(
        fmt9(m.weights(j)), fmt9(m.mu(j)), fmt9(m.sigma(j)))))
      .mkString(",")
    val crc = new java.util.zip.CRC32()
    crc.update(rendered.getBytes("UTF-8"))
    crc.getValue
  }

  /** Confusion matrix of the smooth model against its own rule labels —
    * the distillation-quality dashboard (how faithful is the classifier,
    * and in which direction does it deviate). */
  def evalWith(docs: DataFrame, weights: DataFrame): DataFrame =
    scoreWith(docs, weights).groupBy("label", "pred")
      .agg(count(lit(1)).as("n")).orderBy("label", "pred")

  /** Fixed threshold grid of [[prCurve]] — tenths, spelled identically
    * (same double literals) in the DuckDB oracle. */
  val PrThresholds: Seq[Double] = (1 to 9).map(_ / 10.0)

  /** Calibration curve of the distilled model against its own rule
    * labels: per candidate threshold the confusion counts and
    * precision / recall / F1 — the table a curation owner reads to pick
    * the score cut (0.5 is [[manifestByClassifier]]'s default; this
    * shows what any other cut would trade). One scoring pass; the grid
    * is a literal array explode, so the pre-aggregation inflation is
    * `|grid|×` map-side rows that partial-aggregate back to `|grid|`
    * rows before the shuffle — no second corpus scan per threshold.
    * Degenerate NULL-score documents are excluded (no model verdict to
    * grade); empty cells yield NULL precision/recall/F1, never a
    * divide-by-zero. */
  def prCurve(docs: DataFrame, weights: DataFrame,
      thresholds: Seq[Double] = PrThresholds): DataFrame = {
    require(thresholds.nonEmpty, "prCurve needs at least one threshold")
    val scored = scoreRows(docs, modelFromRows(weights))
      .where(col("score").isNotNull)
      .select(col("label"), col("score"),
        explode(array(thresholds.map(lit): _*)).as("threshold"))
    val cell = (p: Column, y: Column) =>
      sum((p && y).cast("long"))
    val pos = col("score") >= col("threshold")
    val counts = scored.groupBy("threshold").agg(
      cell(pos, col("label") === 1L).as("tp"),
      cell(pos, col("label") === 0L).as("fp"),
      cell(!pos, col("label") === 1L).as("fn"),
      cell(!pos, col("label") === 0L).as("tn"))
    val precision = when(col("tp") + col("fp") > 0L,
      round(col("tp").cast("double") / (col("tp") + col("fp")), 9))
    val recall = when(col("tp") + col("fn") > 0L,
      round(col("tp").cast("double") / (col("tp") + col("fn")), 9))
    counts
      .withColumn("precision", precision)
      .withColumn("recall", recall)
      .withColumn("f1", when(col("precision") + col("recall") > 0.0,
        round(lit(2.0) * col("precision") * col("recall")
          / (col("precision") + col("recall")), 9)))
      .orderBy("threshold")
  }

  /** Operating-point selection off the PR curve: the threshold that
    * maximizes RECALL subject to a precision floor — the standard way a
    * curation pipeline turns "we can tolerate X% junk" into a concrete
    * score cut. Deterministic: among grid thresholds with
    * `precision ≥ target`, highest recall wins, ties break on the
    * smallest threshold (thresholds are unique in the grid, so the row is
    * unique); an unreachable target yields zero rows — the honest answer,
    * not a silent fallback. One row out; cost identical to [[prCurve]]. */
  def thresholdAtPrecision(docs: DataFrame, weights: DataFrame,
      targetPrecision: Double,
      thresholds: Seq[Double] = PrThresholds): DataFrame = {
    require(targetPrecision > 0.0 && targetPrecision <= 1.0,
      s"targetPrecision must be in (0, 1], got $targetPrecision")
    prCurve(docs, weights, thresholds)
      .where(col("precision").isNotNull && col("precision") >= targetPrecision)
      .orderBy(col("recall").desc, col("threshold").asc)
      .limit(1)
  }

  /** Documents where the smooth score most disagrees with the hard rule
    * label — the curation reviewer's worklist (borderline rule decisions
    * the model prices differently). */
  def disagreementsWith(docs: DataFrame, weights: DataFrame, k: Int = 25): DataFrame =
    scoreWith(docs, weights)
      .select(col("doc_id"), col("label"), col("score"))
      .orderBy(round(abs(col("score") - col("label").cast("double")), 9).desc,
        col("doc_id").asc)
      .limit(k)

  /** Cross-layout determinism gate: the md5-portable claim, pinned the way
    * the coded-vs-full gates pin recall. On a FIXED deterministic document
    * sample (md5-ordered `sampleN`, so gate cost is corpus-size-independent)
    * it (a) trains the classifier under two different partitionings and
    * requires bit-identical weights, and (b) rebuilds the sample's
    * (term, doc) counts under the same two layouts and requires identical
    * order-independent digests. THROWs on any divergence; the returned rows
    * are the audit trail. */
  def layoutDeterminismGate(docs: DataFrame, sampleN: Int = 512): DataFrame =
    layoutDeterminismGateImpl(docs, sampleN, mutationIters = 0)

  /** [[layoutDeterminismGate]] with a seeded-mutation hook for the THROW
    * spec: `mutationIters > 0` shortens the SECOND training run by that
    * many iterations — a deliberate kernel divergence the gate must
    * refuse. Test-only (the public gate pins it to 0). */
  private[graft] def layoutDeterminismGateImpl(docs: DataFrame, sampleN: Int,
      mutationIters: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val sample = docs
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id")).limit(sampleN)
      .scopedPersist()
    sample.count()
    try {
      // 12 iterations, not the serving model's 30: layout-dependent drift
      // in a decimal-routed sum would surface on the FIRST divergent
      // gradient (weights feed forward), so the gate doesn't need full
      // convergence — it needs bounded cost in the standing registry
      // (30 tiny driver-synchronized jobs per fit is the expense here,
      // not row count).
      val gateIters = 12
      val fa = featureFrame(sample.repartition(3))
      val fb = featureFrame(sample.repartition(11, col("doc_id")))
      // the two layouts' fits are INDEPENDENT driver-paced loops (each
      // iteration is one tiny synchronized aggregate, so each fit's cost
      // is ~gateIters × job latency, not data) — overlap them on two
      // driver threads so the gate pays max(fitA, fitB) instead of the
      // sum; Spark schedules concurrent jobs FIFO and the tiny tasks
      // backfill. A FRESH pool per call: threads created here inherit
      // this call's job group / local properties, so bench attribution
      // stays correct (a shared global pool would carry stale ones).
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutorService(pool)
      val (ma, mb) =
        try {
          // Future(Try(...)): BOTH fits are awaited before either failure
          // propagates — a throwing fit must not leave its sibling's jobs
          // running past the gate call (they would interleave with the
          // caller's next query and muddy bench attribution)
          val futA = scala.concurrent.Future(
            scala.util.Try(fit(fa, iters = gateIters)))
          val futB = scala.concurrent.Future(
            scala.util.Try(fit(fb, iters = gateIters - mutationIters)))
          val ra = scala.concurrent.Await.result(futA,
            scala.concurrent.duration.Duration.Inf)
          val rb = scala.concurrent.Await.result(futB,
            scala.concurrent.duration.Duration.Inf)
          (ra.get, rb.get)
        } finally pool.shutdown()
      val wa = round9(ma.intercept) +: ma.weights.map(round9)
      val wb = round9(mb.intercept) +: mb.weights.map(round9)
      val wMatch = java.util.Arrays.equals(wa, wb) &&
        java.util.Arrays.equals(ma.mu, mb.mu) && java.util.Arrays.equals(ma.sigma, mb.sigma)

      def termDigest(d: DataFrame): (Long, Long) = {
        val counts = d.select(col("doc_id"), explode(Curation.tokenArray).as("term"))
          .groupBy("doc_id", "term").agg(count(lit(1)).as("cnt"))
        val r = counts.agg(
          sum(crc32(concat_ws("\u0001", col("doc_id").cast("string"), col("term"),
            col("cnt").cast("string")))).as("digest"),
          count(lit(1)).as("n")).head()
        (r.getAs[Long]("digest"), r.getAs[Long]("n"))
      }
      val (da, na) = termDigest(sample.repartition(3))
      val (db, nb) = termDigest(sample.repartition(11, col("doc_id")))
      val tMatch = da == db && na == nb

      require(wMatch, "layout determinism violated: classifier weights differ " +
        s"across partitionings (${wa.mkString(",")} vs ${wb.mkString(",")})")
      require(tMatch, "layout determinism violated: term-count digests differ " +
        s"across partitionings ($da/$na vs $db/$nb)")
      Seq(
        ("classifier_weights", sampleN.toLong, wa.map(fmt9).mkString(","),
          if (wMatch) 1L else 0L),
        ("term_counts", na, da.toString, if (tMatch) 1L else 0L))
        .toDF("component", "n_rows", "digest", "layout_match")
        .orderBy("component")
    } finally sample.unpersist()
  }
}
