package graft

import org.apache.spark.sql.functions._

import graft.operators.QualityClassifier
import graft.operators.QualityClassifier.{FeatureNames, Model}

/** The in-frame logistic quality classifier: exact parity of the
  * distributed fit against a literal single-node reimplementation,
  * layout invariance (the decimal-routing claim), the divergence THROW,
  * model round-trip, distillation accuracy, and the cross-layout
  * determinism gate including its seeded-mutation THROW. */
class QualityClassifierSpec extends SparkSpec {
  import spark.implicits._

  /** Deterministic corpus whose Gopher labels straddle the 50-word rule:
    * two stopwords + a run of plain words (mean word length in band,
    * all-alpha), plus a few digit-bearing docs so x_digit varies. */
  private def corpus(n: Int = 96) = {
    val docs = (1 to n).map { i =>
      val words = 8 + (i * 13) % 90
      val body = Seq.fill(words)("alpha").mkString(" ")
      val digits = if (i % 11 == 0) " a1b22c333" else ""
      (i.toLong, s"the and $body$digits")
    }
    docs.toDF("doc_id", "text")
  }

  private def round9(x: Double): Double =
    java.math.BigDecimal.valueOf(x).setScale(9, java.math.RoundingMode.HALF_UP)
      .doubleValue()

  private def dec9(x: Double): java.math.BigDecimal =
    java.math.BigDecimal.valueOf(x).setScale(9, java.math.RoundingMode.HALF_UP)

  /** Literal single-node reimplementation of QualityClassifier.fit over
    * collected feature rows — BigDecimal accumulators for every cross-row
    * sum, fixed-order double arithmetic per row, HALF_UP scale-9 rounding
    * at exactly the steps the DataFrame spelling rounds. Shares no code
    * with the operator. */
  private def literalFit(rows: Seq[(Array[Double], Double)], iters: Int,
      lr: Double): Model = {
    val nF = FeatureNames.size
    val n = rows.size.toDouble
    val mu = new Array[Double](nF)
    val sigma = new Array[Double](nF)
    for (j <- 0 until nF) {
      var sx = java.math.BigDecimal.ZERO
      var sxx = java.math.BigDecimal.ZERO
      rows.foreach { case (x, _) =>
        sx = sx.add(dec9(x(j)))
        sxx = sxx.add(dec9(x(j) * x(j)))
      }
      val m = round9(sx.doubleValue() / n)
      mu(j) = m
      sigma(j) = round9(math.sqrt(math.max(round9(sxx.doubleValue() / n) - m * m, 0.0)))
    }
    val z = rows.map { case (x, _) =>
      Array.tabulate(nF)(j =>
        if (sigma(j) > 0.0) round9((x(j) - mu(j)) / sigma(j)) else 0.0)
    }
    var wb = 0.0
    val w = new Array[Double](nF)
    for (_ <- 0 until iters) {
      var gb = java.math.BigDecimal.ZERO
      val g = Array.fill(nF)(java.math.BigDecimal.ZERO)
      rows.zip(z).foreach { case ((_, y), zr) =>
        var lin = wb
        for (j <- 0 until nF) lin += w(j) * zr(j)
        val p = round9(1.0 / (1.0 + java.lang.Math.exp(-round9(lin))))
        gb = gb.add(dec9((p - y) * 1.0))
        for (j <- 0 until nF) g(j) = g(j).add(dec9((p - y) * zr(j)))
      }
      wb = round9(wb - lr * gb.doubleValue() / n)
      for (j <- 0 until nF) w(j) = round9(w(j) - lr * g(j).doubleValue() / n)
    }
    Model(wb, w, mu, sigma)
  }

  private def collectFeatures(docs: org.apache.spark.sql.DataFrame) =
    QualityClassifier.featureFrame(docs)
      .select((FeatureNames.map(col) :+ col("y")): _*)
      .collect()
      .map(r => (Array.tabulate(FeatureNames.size)(r.getDouble), r.getDouble(FeatureNames.size)))
      .toSeq

  test("fit equals a literal single-node reimplementation bit-for-bit") {
    val docs = corpus()
    val spark1 = QualityClassifier.fit(QualityClassifier.featureFrame(docs))
    val lit1 = literalFit(collectFeatures(docs), QualityClassifier.DefaultIters,
      QualityClassifier.DefaultLr)
    assert(spark1.intercept == lit1.intercept)
    assert(spark1.weights.toSeq == lit1.weights.toSeq)
    assert(spark1.mu.toSeq == lit1.mu.toSeq)
    assert(spark1.sigma.toSeq == lit1.sigma.toSeq)
  }

  test("fit is bit-identical across partitionings (decimal-routed gradients)") {
    val docs = corpus()
    val a = QualityClassifier.fit(QualityClassifier.featureFrame(docs.repartition(2)))
    val b = QualityClassifier.fit(
      QualityClassifier.featureFrame(docs.repartition(7, col("doc_id"))))
    assert(a.intercept == b.intercept && a.weights.toSeq == b.weights.toSeq)
    assert(a.mu.toSeq == b.mu.toSeq && a.sigma.toSeq == b.sigma.toSeq)
  }

  test("fit local (collect-sized) path equals the distributed loop bit-for-bit") {
    // threshold 0 forces the distributed gradient loop; the default
    // threshold takes the driver-local path — same Model, every field
    val docs = corpus()
    val local = QualityClassifier.fit(QualityClassifier.featureFrame(docs))
    val dist = QualityClassifier.fit(QualityClassifier.featureFrame(docs),
      QualityClassifier.DefaultIters, QualityClassifier.DefaultLr, localRowThreshold = 0L)
    assert(local.intercept == dist.intercept)
    assert(local.weights.toSeq == dist.weights.toSeq)
    assert(local.mu.toSeq == dist.mu.toSeq)
    assert(local.sigma.toSeq == dist.sigma.toSeq)
  }

  test("constant features are inert: zero weight, zero sigma") {
    // x_punct is constant-0 on this corpus (no punctuation characters)
    val m = QualityClassifier.fit(QualityClassifier.featureFrame(corpus()))
    val j = FeatureNames.indexOf("x_punct")
    assert(m.sigma(j) == 0.0 && m.weights(j) == 0.0)
  }

  test("fit THROWS when training diverges (seeded sign-flipped update)") {
    // gradient ASCENT: loss can only leave the ln-2 zero-init level upward,
    // so the divergence gate must refuse the trained model
    val e = intercept[IllegalArgumentException] {
      QualityClassifier.fit(QualityClassifier.featureFrame(corpus()), lr = -0.5)
    }
    assert(e.getMessage.contains("diverged"))
  }

  test("weightsDf round-trips through modelFromRows") {
    val m = QualityClassifier.fit(QualityClassifier.featureFrame(corpus()))
    val back = QualityClassifier.modelFromRows(
      QualityClassifier.weightsDf(spark, m))
    assert(back.intercept == round9(m.intercept))
    assert(back.weights.toSeq == m.weights.toSeq.map(round9))
    assert(back.mu.toSeq == m.mu.toSeq && back.sigma.toSeq == m.sigma.toSeq)
  }

  test("distilled scores beat the majority baseline on a separable corpus") {
    val docs = corpus()
    val weights = QualityClassifier.weightsDf(spark,
      QualityClassifier.fit(QualityClassifier.featureFrame(docs)))
    val conf = QualityClassifier.evalWith(docs, weights)
      .as[(Long, Long, Long)].collect()
    val total = conf.map(_._3).sum.toDouble
    val correct = conf.filter(r => r._1 == r._2).map(_._3).sum.toDouble
    val pos = conf.filter(_._1 == 1L).map(_._3).sum.toDouble
    val majority = math.max(pos, total - pos) / total
    assert(correct / total > majority + 0.05,
      s"accuracy ${correct / total} should beat majority $majority")
    // scores and preds agree with the stored-threshold contract
    val scored = QualityClassifier.scoreWith(docs, weights)
      .select("score", "pred").as[(Double, Long)].collect()
    scored.foreach { case (s, p) => assert((s >= 0.5) == (p == 1L)) }
  }

  test("disagreements surface rule/model conflicts most-divergent first") {
    val docs = corpus()
    val weights = QualityClassifier.weightsDf(spark,
      QualityClassifier.fit(QualityClassifier.featureFrame(docs)))
    val top = QualityClassifier.disagreementsWith(docs, weights, 10)
      .select("label", "score").as[(Long, Double)].collect()
    val gaps = top.map { case (l, s) => math.abs(s - l.toDouble) }
    assert(gaps.sameElements(gaps.sortBy(-(_: Double))), "descending by divergence")
  }

  test("scoreWeightedSample keeps exactly the docs whose md5 coin lands under the score") {
    val docs = corpus()
    val weights = QualityClassifier.weightsDf(spark,
      QualityClassifier.fit(QualityClassifier.featureFrame(docs)))
    // literal JVM coin: first 8 md5 hex digits of the doc_id string / 2^32
    def coin(docId: Long): Double = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(docId.toString.getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString
      java.lang.Long.parseLong(hex.substring(0, 8), 16).toDouble / 4294967296.0
    }
    val scores = QualityClassifier.scoreWith(docs, weights)
      .select("doc_id", "score").as[(Long, Double)].collect().toMap
    val expected = scores.collect { case (id, s) if coin(id) < s => id }.toSet
    val got = QualityClassifier.scoreWeightedSample(docs, weights)
      .select("doc_id", "score", "u").as[(Long, Double, Double)].collect()
    assert(got.map(_._1).toSet == expected)
    got.foreach { case (id, s, u) =>
      assert(u == coin(id) && s == scores(id) && u < s)
    }
    // the sample is non-trivial on this corpus: some kept, some dropped
    assert(expected.nonEmpty && expected.size < scores.size)
  }

  test("manifestByClassifier re-cuts only the quality leg; delta sums preserve mass") {
    val docs = corpus()
    val weights = QualityClassifier.weightsDf(spark,
      QualityClassifier.fit(QualityClassifier.featureFrame(docs)))
    // hand-made manifest: doc 1 exact-dup, doc 2 contaminated, rest clean;
    // sources split by parity; rule cut keeps multiples of 3 only
    val manifest = corpus().select(col("doc_id")).as[Long].collect().toSeq.map { id =>
      val exactDup = if (id == 1L) 1L else 0L
      val contaminated = if (id == 2L) 1L else 0L
      val lowQ = if (id % 3 == 0) 0L else 1L
      val kept = if (exactDup == 0 && contaminated == 0 && lowQ == 0) 1L else 0L
      (id, if (id % 2 == 0) "even" else "odd", 10L + id, 0.5,
        exactDup, 0L, contaminated, lowQ, kept)
    }.toDF("doc_id", "source", "n_tokens", "quality", "exact_dup",
      "near_dup", "contaminated", "low_quality", "kept")
    val preds = QualityClassifier.scoreWith(docs, weights)
      .select("doc_id", "pred").as[(Long, Long)].collect().toMap
    val rows = QualityClassifier.manifestByClassifier(manifest, docs, weights)
      .select("doc_id", "source", "n_tokens", "kept_rule", "kept_clf", "changed")
      .as[(Long, String, Long, Long, Long, Long)].collect()
    assert(rows.length == preds.size)
    rows.foreach { case (id, src, nTok, keptRule, keptClf, changed) =>
      val expectClf =
        if (id == 1L || id == 2L) 0L // dedup/decon flags always veto
        else preds(id)
      assert(keptClf == expectClf, s"doc $id")
      assert(changed == (if (keptRule != keptClf) 1L else 0L))
      assert(src == (if (id % 2 == 0) "even" else "odd") && nTok == 10L + id)
    }
    // the per-source 2x2 partitions the manifest: counts and token mass sum back
    val delta = QualityClassifier.manifestClassifierDelta(manifest, docs, weights)
      .select("n_docs", "n_tokens").as[(Long, Long)].collect()
    assert(delta.map(_._1).sum == rows.length)
    assert(delta.map(_._2).sum == rows.map(_._3).sum)
  }

  test("scoreWeightedSourceSample: rate x score coin; absent sources keep nothing") {
    val docs = corpus().withColumn("source",
      concat(lit("s"), (col("doc_id") % 3).cast("string")))
    val weights = QualityClassifier.weightsDf(spark,
      QualityClassifier.fit(QualityClassifier.featureFrame(docs)))
    def coin(docId: Long): Double = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(docId.toString.getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString
      java.lang.Long.parseLong(hex.substring(0, 8), 16).toDouble / 4294967296.0
    }
    val rates = Map("s0" -> 1.0, "s1" -> 0.3) // s2 absent -> keeps nothing
    val scores = QualityClassifier.scoreWith(docs, weights)
      .select("doc_id", "score").as[(Long, Double)].collect().toMap
    val expected = scores.collect {
      case (id, s) if coin(id) < rates.getOrElse("s" + (id % 3), 0.0) * s => id
    }.toSet
    val got = QualityClassifier.scoreWeightedSourceSample(docs, weights, rates)
      .select("doc_id", "source", "score", "u")
      .as[(Long, String, Double, Double)].collect()
    assert(got.map(_._1).toSet == expected)
    got.foreach { case (id, src, s, u) =>
      assert(src == "s" + (id % 3) && s == scores(id) && u == coin(id))
      assert(src != "s2", "absent source must keep nothing")
    }
    assert(expected.nonEmpty && expected.size < scores.size)
  }

  test("modelVersion is content-derived: stable on re-read, moves on retrain") {
    val m = QualityClassifier.fit(QualityClassifier.featureFrame(corpus()))
    val w1 = QualityClassifier.weightsDf(spark, m)
    assert(QualityClassifier.modelVersion(w1) ==
      QualityClassifier.modelVersion(QualityClassifier.weightsDf(spark, m)))
    val bumped = Model(m.intercept + 0.25, m.weights, m.mu, m.sigma)
    assert(QualityClassifier.modelVersion(w1) !=
      QualityClassifier.modelVersion(QualityClassifier.weightsDf(spark, bumped)))
  }

  test("prCurve cells reconcile with collected scores at every threshold") {
    val docs = corpus()
    val m = QualityClassifier.fit(QualityClassifier.featureFrame(docs))
    val w = QualityClassifier.weightsDf(spark, m)
    val scored = QualityClassifier.scoreWith(docs, w)
      .select("label", "score").as[(Long, Double)].collect()
    val got = QualityClassifier.prCurve(docs, w)
      .select("threshold", "tp", "fp", "fn", "tn")
      .as[(Double, Long, Long, Long, Long)].collect()
    assert(got.map(_._1).toSeq == QualityClassifier.PrThresholds)
    got.foreach { case (t, tp, fp, fn, tn) =>
      assert(tp == scored.count { case (y, s) => s >= t && y == 1L })
      assert(fp == scored.count { case (y, s) => s >= t && y == 0L })
      assert(fn == scored.count { case (y, s) => s < t && y == 1L })
      assert(tp + fp + fn + tn == scored.length.toLong)
    }
    // recall is monotone non-increasing in the threshold
    val recalls = QualityClassifier.prCurve(docs, w)
      .select("recall").as[Option[Double]].collect().flatten
    assert(recalls.zip(recalls.tail).forall { case (a, b) => a >= b })
  }

  test("modelVersion is locale-independent (comma-decimal default locale)") {
    // the version stamp renders weights as fixed-9 decimals; a JVM whose
    // default locale writes ',' for the decimal point must produce the
    // SAME CRC or every refresh poll on that JVM fakes a retrain
    val m = QualityClassifier.fit(QualityClassifier.featureFrame(corpus()))
    val w = QualityClassifier.weightsDf(spark, m)
    val before = QualityClassifier.modelVersion(w)
    val saved = java.util.Locale.getDefault
    try {
      java.util.Locale.setDefault(java.util.Locale.FRANCE)
      assert(QualityClassifier.modelVersion(w) == before)
    } finally java.util.Locale.setDefault(saved)
  }

  test("degenerate documents: excluded from training, scored NULL, never dropped") {
    val clean = corpus()
    // one zero-char doc and one whitespace-only doc ride along; the
    // whitespace doc has chars (so char ratios are defined) but its rule
    // label is a hard 0 — only the ZERO-CHAR doc is feature-degenerate
    val dirty = clean.union(Seq((9001L, ""), (9002L, "   ")).toDF("doc_id", "text"))
    val mClean = QualityClassifier.fit(QualityClassifier.featureFrame(clean))
    val mDirty = QualityClassifier.fit(QualityClassifier.featureFrame(dirty))
    // the zero-char doc contributes nothing to mu/sigma or the gradients;
    // the whitespace doc DOES train (all its features are defined)
    val mRef = QualityClassifier.fit(QualityClassifier.featureFrame(
      clean.union(Seq((9002L, "   ")).toDF("doc_id", "text"))))
    assert(mDirty.intercept == mRef.intercept)
    assert(mDirty.weights.toSeq == mRef.weights.toSeq)
    assert(mDirty.mu.toSeq == mRef.mu.toSeq && mDirty.sigma.toSeq == mRef.sigma.toSeq)
    assert(mDirty.weights.toSeq != mClean.weights.toSeq ||
      mDirty.mu.toSeq != mClean.mu.toSeq) // the whitespace doc is not a no-op
    // scoring keeps the degenerate doc visible with NULL score/pred
    val scored = QualityClassifier.scoreWith(dirty,
      QualityClassifier.weightsDf(spark, mDirty))
    val row = scored.where(col("doc_id") === 9001L)
      .select("score", "pred").collect()
    assert(row.length == 1 && row(0).isNullAt(0) && row(0).isNullAt(1))
    val ws = scored.where(col("doc_id") === 9002L).select("score").collect()
    assert(ws.length == 1 && !ws(0).isNullAt(0))
    assert(scored.count() == dirty.count())
  }

  test("layoutDeterminismGate passes clean and THROWS on a seeded mutation") {
    val docs = corpus()
    val rows = QualityClassifier.layoutDeterminismGate(docs, sampleN = 48)
      .select("component", "layout_match").as[(String, Long)].collect().toMap
    assert(rows == Map("classifier_weights" -> 1L, "term_counts" -> 1L))
    val e = intercept[IllegalArgumentException] {
      QualityClassifier.layoutDeterminismGateImpl(docs, sampleN = 48,
        mutationIters = 5)
    }
    assert(e.getMessage.contains("layout determinism violated"))
  }

  test("thresholdAtPrecision: max recall under the floor; unreachable floor -> no row") {
    val docs = corpus()
    val w = QualityClassifier.weightsDf(spark,
      QualityClassifier.fit(QualityClassifier.featureFrame(docs)))
    val curve = QualityClassifier.prCurve(docs, w)
      .select("threshold", "precision", "recall")
      .as[(Double, Option[Double], Option[Double])].collect().toSeq
    // pick a floor every defined-precision row can meet, so the winner is
    // simply the max-recall row (smallest-threshold tie)
    val target = curve.flatMap(_._2).min
    val best = curve.filter(_._2.exists(_ >= target))
      .maxBy(r => (r._3.get, -r._1))
    val got = QualityClassifier.thresholdAtPrecision(docs, w, target)
      .select("threshold", "precision", "recall")
      .as[(Double, Option[Double], Option[Double])].collect().toSeq
    assert(got.map(_._1) == Seq(best._1))
    assert(got.head._2.exists(_ >= target))
    // a floor above the curve's best precision yields ZERO rows (honest),
    // never a silent fallback
    val maxP = curve.flatMap(_._2).max
    if (maxP < 1.0)
      assert(QualityClassifier.thresholdAtPrecision(docs, w, 1.0).count() == 0L)
  }
}
