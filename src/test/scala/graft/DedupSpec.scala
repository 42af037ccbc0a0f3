package graft

import org.apache.spark.sql.functions.{col, count, lit}

import graft.operators.Dedup

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val base = "the quick brown fox jumps over the lazy dog and runs far away into the hills tonight"

  private val corpus = Seq(
    (1L, base),
    (2L, base + " extra"),                        // near-dup of 1
    (3L, "completely different text about spark catalyst optimizer rules and physical planning"),
    (4L, "The  Quick  Brown fox jumps over the lazy dog and runs far away into the hills tonight"), // exact dup of 1 modulo case/ws
    (5L, "unrelated corpus entry mentioning embeddings vectors and similarity search at scale"),
  ).toDF("doc_id", "text")

  test("exact dedup groups case/whitespace-insensitive duplicates") {
    val groups = Dedup.exact(corpus)
      .select("n_docs", "keeper").as[(Long, Long)].collect().toSet
    assert(groups.contains((2L, 1L)))       // docs 1+4 collapse, keeper = 1
    assert(groups.count(_._1 == 1L) == 3)   // 2, 3, 5 singletons
  }

  test("minhash LSH finds the near-dup pair and not unrelated pairs") {
    val pairs = Dedup.minhashPairs(corpus, threshold = 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(pairs.contains((1L, 4L)))        // exact dup → jaccard est 1.0
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
    assert(!pairs.exists(p => p._1 == 5L || p._2 == 5L))
  }

  test("minhash estimate is exactly 1.0 for identical canonical text") {
    val est = Dedup.minhashPairs(corpus, threshold = 0.5)
      .where($"doc_a" === 1L && $"doc_b" === 4L)
      .select("jaccard_est").as[Double].head()
    assert(est == 1.0)
  }

  test("simhash pairs near-dups within hamming distance") {
    val pairs = Dedup.simhashPairs(corpus, maxHamming = 3)
      .select("doc_a", "doc_b", "hamming").as[(Long, Long, Int)].collect()
    val pairSet = pairs.map(p => (p._1, p._2)).toSet
    assert(pairSet.contains((1L, 4L)))
    pairs.filter(p => (p._1, p._2) == ((1L, 4L))).foreach(p => assert(p._3 == 0))
    assert(!pairSet.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("ngram jaccard: boilerplate gram above maxGramDf is dropped from numerator AND denominator") {
    // "z z z" appears in all 4 docs (df=4); every other gram is doc-local or df=2
    val docs = Seq(
      (1L, "z z z a b c"),  // grams: "z z z","z z a","z a b","a b c"
      (2L, "z z z a b d"),  // shares "z z a","z a b" with doc 1
      (3L, "z z z p q r"),
      (4L, "z z z s t u"),
    ).toDF("doc_id", "text")
    // cap=3 < df("z z z")=4 → boilerplate gram excluded everywhere:
    // docs 1,2 share 2 of their 3 remaining grams → jaccard 2/4 = 0.5;
    // docs 3,4 share nothing any more → no pair at all
    val capped = Dedup.ngramJaccardExact(docs, minJaccard = 0.0, maxGramDf = 3)
      .select("doc_a", "doc_b", "n_shared", "grams_a", "grams_b", "jaccard")
      .as[(Long, Long, Long, Long, Long, Double)].collect().toSeq
    assert(capped == Seq((1L, 2L, 2L, 3L, 3L, 0.5)))
    // cap=4 keeps the gram → all 6 pairs share at least "z z z"
    val uncapped = Dedup.ngramJaccardExact(docs, minJaccard = 0.0, maxGramDf = 4)
      .select("doc_a", "doc_b").as[(Long, Long)].collect()
    assert(uncapped.length == 6)
  }

  test("ngram jaccard: hand-computed overlap") {
    val docs = Seq(
      (1L, "a b c d"),   // grams: "a b c", "b c d"
      (2L, "a b c e"),   // grams: "a b c", "b c e"  → shared 1, union 3
      (3L, "x y z w"),
    ).toDF("doc_id", "text")
    val got = Dedup.ngramJaccardExact(docs, minJaccard = 0.0)
      .select("doc_a", "doc_b", "n_shared", "jaccard")
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(got == Seq((1L, 2L, 1L, math.rint(1.0 / 3.0 * 1e9) / 1e9)))
  }

  test("distinctGramRows over a prebuilt token-array frame equals the raw-docs spelling") {
    // shapes that stress the routing: digit tokens (dropped), punctuation
    // trims, a doc under 3 tokens, a token-free doc (empty array), repeats
    val docs = Seq(
      (1L, "Apple banana! apple cherry apple banana"),
      (2L, "one two2 three four five"),
      (3L, "short doc"),
      (4L, ""),
      (5L, "x y z x y z x y z"),
    ).toDF("doc_id", "text")
    val raw = Dedup.distinctGramRows(docs)
      .as[(Long, String)].collect().toSet
    val toks = graft.operators.Tfidf.tokenArrays(docs)
    val routed = Dedup.distinctGramRows(toks)
      .as[(Long, String)].collect().toSet
    assert(routed == raw)
    assert(raw.nonEmpty)
  }

  test("ngramJaccardFromPostings equals ngramJaccardExact on stored kept postings") {
    // mixed fixture: a boilerplate gram over the cap, a df=2 shared pair,
    // doc-local grams, and a doc that loses every gram to the cap
    val docs = Seq(
      (1L, "z z z a b c d"),
      (2L, "z z z a b c e"),
      (3L, "z z z p q r s"),
      (4L, "z z z"),
    ).toDF("doc_id", "text")
    val cap = 3
    for (minJ <- Seq(0.0, 0.5)) {
      val direct = Dedup.ngramJaccardExact(docs, minJaccard = minJ, maxGramDf = cap)
        .select("doc_a", "doc_b", "n_shared", "grams_a", "grams_b", "jaccard")
        .as[(Long, Long, Long, Long, Long, Double)].collect().toSet
      // stored-postings spelling: distinctGramRows + df cap, like the
      // dedup_postings_old90 / dedup_sizes_old90 asset builders
      val gramRows = Dedup.distinctGramRows(docs)
      val okGrams = gramRows.groupBy("gram")
        .agg(count(lit(1)).as("gram_df"))
        .where(col("gram_df") <= cap).select("gram")
      val postings = gramRows.join(okGrams, "gram").select("doc_id", "gram")
      val sizes = postings.groupBy("doc_id")
        .agg(count(lit(1)).as("n_grams"))
      val fromStore = Dedup.ngramJaccardFromPostings(postings, sizes, minJ)
        .select("doc_a", "doc_b", "n_shared", "grams_a", "grams_b", "jaccard")
        .as[(Long, Long, Long, Long, Long, Double)].collect().toSet
      assert(fromStore == direct, s"minJaccard=$minJ")
    }
  }

  test("incrementalNew keeps only content not already ingested, idempotently") {
    val existing = Seq((10L, "seen before")).toDF("doc_id", "text")
    val incoming = Seq(
      (1L, "SEEN   before"),        // dup of existing modulo case/whitespace
      (2L, "brand new content"),
      (3L, "brand NEW content"),    // in-batch dup of 2 → keeper 2
    ).toDF("doc_id", "text")
    val got = Dedup.incrementalNew(existing, incoming)
      .select("doc_id").as[Long].collect().toSeq
    assert(got == Seq(2L))
    // idempotence: re-delivering after ingest yields nothing
    val afterIngest = existing.union(incoming)
    assert(Dedup.incrementalNew(afterIngest, incoming).count() == 0)
  }

  test("connectedComponents: transitive chains collapse to the min id") {
    val pairs = Seq(
      (2L, 1L), (2L, 3L),   // chain 1-2-3 → cluster 1
      (10L, 7L),            // pair → cluster 7
    ).toDF("doc_a", "doc_b")
    val got = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 10L -> 7L))
  }

  // deterministic gate corpus: 6 base docs of 200 letter-tokens, each with a
  // one-token-edited near-dup (token-3-gram jaccard ≈ 0.97 — inside the
  // gate's near-identical truth slice), no cross-doc gram overlap (first
  // token char is doc-specific)
  private lazy val gateCorpus = {
    val a = "abcdefghijklmnopqrstuvwxyz"
    // injective in j (up to 676): every position is a distinct token, so a
    // one-token edit really removes its 3 covering grams
    def tok(d: Int, j: Int) = s"${a(d % 26)}${a(j % 26)}${a((j / 26) % 26)}"
    val base = (0 until 6).map(d =>
      (d.toLong, (0 until 200).map(tok(d, _)).mkString(" ")))
    val dups = (0 until 6).map(d =>
      (100L + d, (0 until 200).map(tok(d, _)).updated(100, "zzqx").mkString(" ")))
    (base ++ dups).toDF("doc_id", "text")
  }

  test("sketchQualityGate passes for both sketches on a near-dup corpus") {
    val mh = Dedup.sketchQualityGate(gateCorpus, "minhash")
      .select("n_truth", "n_matched", "recall").as[(Long, Long, Double)].head()
    assert(mh._1 == 6 && mh._2 == 6 && mh._3 == 1.0)
    // simhash runs at its registered crater bar: hamming<=3 legitimately
    // loses borderline one-token edits (sign bits flip in clusters), so the
    // gate guards against collapse, not single-pair dips
    val sh = Dedup.sketchQualityGate(gateCorpus, "simhash",
      minRecall = 0.5, minPrecision = 0.0)
      .select("recall", "precision").as[(Double, Double)].head()
    assert(sh._1 >= 0.5 && sh._2 >= 0.5)
  }

  test("sketchQualityGate throws on a seeded banding regression") {
    // bands=1 demands a FULL 128-hash signature match: one-token edits no
    // longer collide, recall craters, the gate must surface a hard error
    intercept[IllegalArgumentException] {
      Dedup.sketchQualityGate(gateCorpus, "minhash", bands = 1)
    }
  }

  test("connectedComponents: 64-node chain converges in O(log n) rounds") {
    // min-label propagation needs 63 rounds here; star contraction must
    // reach the fixpoint well inside 8 or the labels come out wrong.
    // threshold 0 forces the DISTRIBUTED loop — the local union-find
    // would otherwise absorb this graph and retire the convergence pin
    val pairs = (1L until 64L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val got = Dedup.connectedComponents(pairs, maxIter = 8, localEdgeThreshold = 0L)
      .as[(Long, Long)].collect()
    assert(got.length == 64 && got.forall(_._2 == 1L))
  }

  test("connectedComponents: local union-find equals the contraction loop") {
    // deterministic pseudo-random multigraph: dense collisions, duplicate
    // and reversed edges, self-pairs, an isolated self-pair-only node —
    // the local fast path (default threshold) must label EXACTLY like the
    // distributed contraction loop (threshold 0)
    val rnd = new scala.util.Random(42)
    val edges = Seq.tabulate(300)(_ =>
      (rnd.nextInt(80).toLong, rnd.nextInt(80).toLong)) ++
      Seq((200L, 200L), (150L, 90L))
    val pairs = edges.toDF("doc_a", "doc_b")
    val local = Dedup.connectedComponents(pairs).as[(Long, Long)].collect().toMap
    val dist = Dedup.connectedComponents(pairs, maxIter = 20, localEdgeThreshold = 0L)
      .as[(Long, Long)].collect().toMap
    assert(local == dist)
    assert(local(200L) == 200L)
  }

  test("applyNearDedup keeps the cluster minimum and all unpaired docs") {
    val docs = (1L to 5L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("doc_a", "doc_b")
    val kept = Dedup.applyNearDedup(docs, pairs)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept == Seq(1L, 4L, 5L)) // 2 and 3 collapse into cluster 1
  }

  test("applyDedupLabelsKeepBest: highest score wins, ties -> min id, null score floors") {
    val docs = (1L to 8L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    // clusters: {1,2,3} labeled 1, {4,5} labeled 4, {6} singleton in labels,
    // 7 and 8 unpaired (absent from labels -> always kept)
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L), (5L, 4L), (6L, 6L))
      .toDF("doc_id", "cluster")
    // cluster 1: doc 3 has the top score -> keeper despite max id;
    // cluster 4: tie on 0.5 -> min doc_id (4) keeps;
    // doc 6: scoreless singleton still keeps (it's its own best)
    val scores = Seq(
      1L -> Some(0.2), 2L -> Some(0.9), 3L -> Some(0.95),
      4L -> Some(0.5), 5L -> Some(0.5)).map { case (id, s) => (id, s) }
      .toDF("doc_id", "quality")
    val kept = Dedup.applyDedupLabelsKeepBest(docs, labels, scores)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept == Seq(3L, 4L, 6L, 7L, 8L))
    // a null score loses to any real score, but a fully-scoreless cluster
    // still keeps exactly its min-id member
    val labels2 = Seq((1L, 1L), (2L, 1L), (4L, 4L), (5L, 4L))
      .toDF("doc_id", "cluster")
    val scores2 = Seq((1L, Option.empty[Double]), (2L, Some(0.1)))
      .toDF("doc_id", "quality")
    val kept2 = Dedup.applyDedupLabelsKeepBest(docs, labels2, scores2)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept2 == Seq(2L, 3L, 4L, 6L, 7L, 8L))
  }

  test("applyDedupLabelsKeepBest: null still loses under NEGATIVE scores (perplexity)") {
    // avg_logprob-style scores are negative; a sentinel floor like -1.0
    // would let an UNSCORED doc outrank real members — the explicit
    // null-last flag must not
    val docs = (1L to 5L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 3L), (4L, 3L)).toDF("doc_id", "cluster")
    // cluster 1: doc 1 scored -5.2 (worse than -1), doc 2 UNSCORED ->
    // doc 1 must keep; cluster 3: -9.9 vs -2.4 -> the higher (-2.4) keeps
    val scores = Seq((1L, Some(-5.2)), (3L, Some(-9.9)), (4L, Some(-2.4)))
      .toDF("doc_id", "avg_logprob")
    val kept = Dedup.applyDedupLabelsKeepBest(docs, labels, scores, "avg_logprob")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept == Seq(1L, 4L, 5L))
  }

  test("applyDedupLabelsKeepBest degenerates to applyDedupLabels under uniform scores") {
    val docs = (1L to 6L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 3L), (4L, 3L)).toDF("doc_id", "cluster")
    val flat = docs.select(col("doc_id"), lit(0.7).as("quality"))
    val best = Dedup.applyDedupLabelsKeepBest(docs, labels, flat)
      .select("doc_id").as[Long].collect().sorted.toSeq
    val plain = Dedup.applyDedupLabels(docs, labels)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(best == plain)
  }

  test("connectedComponents: long chain converges within the diameter bound") {
    // path 1-2-3-...-8: label 1 must travel 7 hops
    val pairs = (1L until 8L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val got = Dedup.connectedComponents(pairs).as[(Long, Long)].collect()
    assert(got.forall(_._2 == 1L))
  }

  /** The distinct shingle hashes of one canonicalized text, through the
    * SQL generator `graft_shingle_hashes`. */
  private def shingleHashes(text: String, n: Int = 5): Seq[Long] =
    Seq(text).toDF("text")
      .selectExpr(s"graft_shingle_hashes(trim(regexp_replace(lower(text), '\\\\s+', ' ')), $n)")
      .as[Long].collect().toSeq

  test("shingles are distinct per doc and length-bounded") {
    assert(shingleHashes("abcdefg").size == 3) // abcde, bcdef, cdefg
  }

  test("minhash LSH pairs every planted near-dup of the corpus at threshold 0.5") {
    val pairs = Dedup.minhashPairs(corpus, threshold = 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)) && pairs.contains((1L, 4L)) && pairs.contains((2L, 4L)))
  }

  test("crossSourceDupMatrix normalizes source order and decimal-averages jaccard") {
    val pairs = Seq(
      (1L, 2L, 0.8), (1L, 4L, 1.0),   // srcB-srcA and srcA-srcA
      (3L, 5L, 0.3),                  // below the 0.5 floor → dropped
    ).toDF("doc_a", "doc_b", "jaccard")
    val srcs = Seq((1L, "srcB"), (2L, "srcA"), (3L, "srcA"), (4L, "srcB"),
      (5L, "srcA")).toDF("doc_id", "source")
    val got = Dedup.crossSourceDupMatrix(pairs, srcs)
      .as[(String, String, Long, Double, Double)].collect().toSeq
    // (1,2) crosses srcB-srcA → normalized to (srcA, srcB); (1,4) stays
    // within srcB; the 0.3 pair never appears
    assert(got == Seq(
      ("srcA", "srcB", 1L, 0.8, 0.8),
      ("srcB", "srcB", 1L, 1.0, 1.0)))
  }

  test("corpusContainment: hand-computed gram sets, empty-incoming guard") {
    // ingested (even ids): grams {a b c, b c d} ∪ {a b c} = {abc, bcd}
    // incoming (odd ids): {b c d, c d e} — shared {bcd} → containment 1/2
    val docs = Seq(
      (0L, "a b c d"), (2L, "a b c"),
      (1L, "b c d e")).toDF("doc_id", "text")
    val row = Dedup.corpusContainment(docs, $"doc_id" % 2 === 0)
      .as[(Long, Long, Long, Double, Double)].head()
    assert(row == ((2L, 2L, 1L, 0.5, round9(1.0 / 3))))
    // no incoming docs at all → containment and jaccard are 0, not NaN
    val none = Dedup.corpusContainment(docs.where($"doc_id" =!= 1L),
      $"doc_id" % 2 === 0).as[(Long, Long, Long, Double, Double)].head()
    assert(none == ((2L, 0L, 0L, 0.0, 0.0)))
  }

  test("corpusContainmentHllGate agrees with exact on a small corpus; throws on drift") {
    val docs = corpus.withColumn("doc_id", $"doc_id")
    val row = Dedup.corpusContainmentHllGate(docs, $"doc_id" % 2 === 0)
      .select("containment_est", "containment_exact")
      .as[(Double, Double)].head()
    // at this cardinality the sketch answers exactly
    assert(row._1 == row._2)
    // an impossible tolerance must throw (the driver-visible failure path)
    intercept[IllegalArgumentException] {
      Dedup.corpusContainmentHllGate(docs, $"doc_id" % 2 === 0, tol = -1.0)
    }
    // an empty split side fails with the real reason, not a bare
    // NoSuchElementException from the vanished sketch row
    val e = intercept[IllegalArgumentException] {
      Dedup.corpusContainmentHllGate(docs, $"doc_id" >= 0L)
    }
    assert(e.getMessage.contains("BOTH sides"))
  }

  private def round9(x: Double): Double =
    BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("dedupThresholdCalibration: hand-computed curve, zeros kept, floor fail-fast") {
    val pairs = Seq((1L, 2L, 0.95), (1L, 3L, 0.55), (4L, 5L, 0.72))
      .toDF("doc_a", "doc_b", "jaccard")
    val got = Dedup.dedupThresholdCalibration(pairs, totalDocs = 10)
      .as[(Double, Long, Long, Long, Double)].collect().toSeq
    assert(got == Seq(
      (0.5, 3L, 5L, 3L, 0.3),
      (0.6, 2L, 4L, 2L, 0.2),
      (0.7, 2L, 4L, 2L, 0.2),
      (0.8, 1L, 2L, 1L, 0.1),
      (0.9, 1L, 2L, 1L, 0.1)))
    // a threshold with no surviving pairs keeps its row with zeros
    val sparse = Dedup.dedupThresholdCalibration(
      pairs.where($"jaccard" < 0.6), totalDocs = 10)
      .as[(Double, Long, Long, Long, Double)].collect().toSeq
    assert(sparse.filter(_._1 >= 0.6).forall(r => r._2 == 0L && r._5 == 0.0))
    // thresholds below the pair table's build floor under-count → fail fast
    intercept[IllegalArgumentException] {
      Dedup.dedupThresholdCalibration(pairs, 10, thresholds = Seq(0.1))
    }
  }

  test("shingle generator: dedups repeats, empty below window size") {
    assert(shingleHashes("aaaaaaaa").size == 1)
    assert(shingleHashes("abc").isEmpty)
    // identical canonical text → identical shingle-hash sets
    val a = shingleHashes("The Quick  Brown").toSet
    val b = shingleHashes("the quick brown").toSet
    assert(a == b && a.nonEmpty)
  }

  test("softDedupWeights: 1/cluster_size x paragraph novelty; singletons weigh 1") {
    // paraTokens=2: doc 10/11 exact twins (one cluster; 11's blocks all
    // lose the corpus-first election), doc 12 an unclustered singleton
    // whose FIRST block is doc 10's boilerplate, doc 13 fully novel
    val docs = Seq(
      (10L, "s", "aa bb cc dd"),
      (11L, "s", "aa bb cc dd"),
      (12L, "s", "aa bb zz ww"),
      (13L, "s", "qq rr")).toDF("doc_id", "source", "text")
    val labels = Seq((10L, 10L), (11L, 10L)).toDF("doc_id", "cluster")
    val pd = graft.operators.Paragraphs.paragraphDupPerDoc(docs, paraTokens = 2)
    val got = Dedup.softDedupWeights(docs, labels, pd).orderBy("doc_id")
      .as[(Long, Long, Long, Long, Double)].collect().toSeq
    assert(got == Seq(
      (10L, 2L, 2L, 0L, 0.5),   // corpus-first copy: full novelty, half mass
      (11L, 2L, 2L, 2L, 0.0),   // every block duplicated -> zero weight
      (12L, 1L, 2L, 1L, 0.5),   // boilerplate half gone, novel half kept
      (13L, 1L, 1L, 0L, 1.0)))  // untouched document keeps weight 1
  }

  test("softDedupWeights == single-node recompute on a random planted corpus") {
    def r9(x: Double): Double =
      BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    val rnd = new scala.util.Random(7)
    val vocab = Vector("aa", "bb", "cc", "dd", "ee", "ff", "gg", "hh")
    val p = 3
    // random docs; every third doc replays an earlier doc's text (twins)
    val texts = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    (0L until 40L).foreach { i =>
      val t =
        if (i % 3 == 2 && texts.nonEmpty) texts(rnd.nextInt(texts.size))._2
        else Seq.fill(1 + rnd.nextInt(9))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
      texts += ((i, t))
    }
    val docs = texts.toSeq.map { case (i, t) => (i, "s", t) }
      .toDF("doc_id", "source", "text")
    // cluster exact twins by text (a stand-in near-dup labeling)
    val byText = texts.groupBy(_._2).values.filter(_.size >= 2)
    val labels = byText.flatMap { g =>
      val c = g.map(_._1).min; g.map(t => (t._1, c))
    }.toSeq.toDF("doc_id", "cluster")
    val got = Dedup.softDedupWeights(docs, labels,
      graft.operators.Paragraphs.paragraphDupPerDoc(docs, p))
      .orderBy("doc_id")
      .as[(Long, Long, Long, Long, Double)].collect().toSeq
    // literal single-node recompute
    val clusterSize = byText.flatMap { g =>
      g.map(t => t._1 -> g.size.toLong)
    }.toMap.withDefaultValue(1L)
    def paras(t: String): Seq[(Int, String)] =
      t.split("\\s+", -1).toSeq.grouped(p).map(_.mkString(" ")).zipWithIndex
        .map { case (s, i) => (i, s) }.toSeq
    val seen = scala.collection.mutable.Map.empty[String, (Long, Int)]
    val dupOf = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    val nOf = scala.collection.mutable.Map.empty[Long, Long]
    texts.sortBy(_._1).foreach { case (id, t) =>
      val ps = paras(t)
      nOf(id) = ps.size.toLong
      ps.foreach { case (i, s) =>
        seen.get(s) match {
          case Some(_) => dupOf(id) += 1L
          case None    => seen(s) = (id, i)
        }
      }
    }
    val expected = (0L until 40L).map { id =>
      val w = r9((1.0 / clusterSize(id)) * (1.0 - dupOf(id).toDouble / nOf(id)))
      (id, clusterSize(id), nOf(id), dupOf(id), w)
    }
    assert(got == expected)
  }

  test("exactDupFlagsIncremental: first-arrived keepers, stored keeperships never stolen") {
    val stored = Seq("alpha beta gamma", "delta five six").map(Tuple1(_))
      .toDF("text")
      .select(graft.functions.TextFunctions.contentFingerprint(col("text"))
        .as("fingerprint"))
    val batch = Seq(
      (1L, "alpha beta gamma"),   // stored content — dup even though id 1 < any hypothetical old id
      (5L, "brand new content here"),
      (7L, "brand new content here"), // batch-internal repeat: 5 keeps, 7 dups
      (9L, "entirely different words")).toDF("doc_id", "text")
    val got = Dedup.exactDupFlagsIncremental(stored, batch)
      .orderBy("doc_id").as[(Long, Long)].collect().toSeq
    assert(got == Seq((1L, 1L), (5L, 0L), (7L, 1L), (9L, 0L)))
  }

  test("nearDupFlagsIncremental == arrival-order closure over frozen stored labels") {
    // old corpus: A(100) ~ B(101) near-dups (one stored cluster), C(102)
    // unique singleton (no label row — its own implicit cluster)
    val tA = "one two three four five six seven eight nine ten"
    val tC = "cold unrelated winter words drift slowly over frozen lakes today"
    val old = Seq((100L, tA), (101L, tA + " eleven"), (102L, tC))
      .toDF("doc_id", "text")
    val storedLabels = Dedup.connectedComponents(
      Dedup.ngramJaccardExact(old).select("doc_a", "doc_b"))
    val storedDf = Dedup.distinctGramRows(old)
      .groupBy("gram").agg(org.apache.spark.sql.functions.count(lit(1)).as("gram_df"))
    val storedPostings = Dedup.distinctGramRows(old)
      .join(storedDf.where(col("gram_df") <= 64).select("gram"), "gram")
      .select("doc_id", "gram")
    val storedSizes = storedPostings.groupBy("doc_id")
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("n_grams"))
    val tNew = "fresh spring garden blossoms open wide under warm morning light"
    val batch = Seq(
      (9L,  tA + " twelve"),      // joins the stored {A, B} cluster → dup
      (19L, tNew),                // first arrival of a new-only pair → keeper
      (29L, tNew + " extra"),     // second arrival of that pair → dup
      (39L, tC + " appended"),    // joins singleton C (no label row) → dup
      (49L, "totally distinct vocabulary nothing shared with anyone else"))
      .toDF("doc_id", "text")
    val got = Dedup.nearDupFlagsIncremental(
        storedLabels, storedPostings, storedDf, storedSizes, batch)
      .orderBy("doc_id").as[(Long, Long)].collect().toSeq
    assert(got == Seq((9L, 1L), (19L, 0L), (29L, 1L), (39L, 1L), (49L, 0L)))
  }

  test("nearDupFlagsIncremental: a batch pushing a gram over the cap shrinks stored denominators") {
    // one shared boilerplate gram across everything; cap = 1 so the batch
    // arrival pushes it over and it drops from every gram set — the two
    // docs that matched ONLY through it no longer pair
    val boiler = "common shared boiler plate"
    val old = Seq((100L, boiler)).toDF("doc_id", "text")
    val storedDf = Dedup.distinctGramRows(old)
      .groupBy("gram").agg(org.apache.spark.sql.functions.count(lit(1)).as("gram_df"))
    val storedPostings = Dedup.distinctGramRows(old)
      .join(storedDf.where(col("gram_df") <= 1).select("gram"), "gram")
      .select("doc_id", "gram")
    val storedSizes = storedPostings.groupBy("doc_id")
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("n_grams"))
    val storedLabels = Seq.empty[(Long, Long)].toDF("doc_id", "cluster")
    val batch = Seq((9L, boiler)).toDF("doc_id", "text")
    val got = Dedup.nearDupFlagsIncremental(
        storedLabels, storedPostings, storedDf, storedSizes, batch,
        maxGramDf = 1)
      .orderBy("doc_id").as[(Long, Long)].collect().toSeq
    // identical text, but every shared gram went over the cap with the
    // batch's arrival — no kept grams remain, so no pair, no flag
    assert(got == Seq((9L, 0L)))
    // with the cap wide open the SAME stored tables pair the same arrival
    val loose = Dedup.nearDupFlagsIncremental(
        storedLabels, storedPostings, storedDf, storedSizes, batch,
        maxGramDf = 64)
      .orderBy("doc_id").as[(Long, Long)].collect().toSeq
    assert(loose == Seq((9L, 1L)))
  }

  test("manifest_refresh_impact: exact store never due, due flags follow their counts") {
    val dir = "/root/testdata/sf0.001"
    val rows = SparkEntry.queries("manifest_refresh_impact")(spark, dir)
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(rows.map(_._1) ==
      Seq("benchmark_grams", "exact_fps", "near_dup_index", "quality_thresholds"))
    val byStage = rows.map(r => r._1 -> r).toMap
    // append-only store: old keeperships immutable by rule → never due
    assert(byStage("exact_fps")._3 == 0L && byStage("exact_fps")._4 == 0L)
    // new-entry-driven stages flag due iff the batch would add entries
    for (st <- Seq("benchmark_grams", "quality_thresholds"))
      assert(byStage(st)._4 == (if (byStage(st)._2 > 0) 1L else 0L), st)
    // near-dup index flags due iff stored docs' kept-gram sets shrank
    assert(byStage("near_dup_index")._4 ==
      (if (byStage("near_dup_index")._3 > 0) 1L else 0L))
    // BLOCK arrival split keeps every source on both sides → every batch
    // source has a stored calibration on this fixture
    assert(byStage("quality_thresholds")._2 == 0L)
  }
}
