package graft

import org.apache.spark.sql.functions._
import graft.operators.Tfidf

/** FIXTURES.md §2 micro-corpus golden values + SURVEY.md §5.2 invariants. */
class TfidfSpec extends SparkSpec {
  import spark.implicits._

  private val corpus = Seq(
    (1L, "apple banana apple"),
    (2L, "banana cherry"),
    (3L, "apple cherry cherry cherry"),
  ).toDF("doc_id", "text")

  private lazy val scored =
    Tfidf.rankByValue(Tfidf.pipeline(corpus), "tfidf", Seq("term", "doc_id"))
      .select("term", "doc_id", "cnt", "doc_total", "df", "tfidf")
      .as[(String, Long, Long, Long, Long, Double)].collect().toSeq

  test("micro-corpus golden rows, in rank order") {
    val expected = Seq(
      ("cherry", 3L, 3L, 4L, 2L, 0.3040988310811233),
      ("apple",  1L, 2L, 3L, 2L, 0.2703100720721096),
      ("banana", 2L, 1L, 2L, 2L, 0.2027325540540822),
      ("cherry", 2L, 1L, 2L, 2L, 0.2027325540540822),
      ("banana", 1L, 1L, 3L, 2L, 0.1351550360360548),
      ("apple",  3L, 1L, 4L, 2L, 0.1013662770270411),
    )
    assert(scored.size == expected.size)
    scored.zip(expected).foreach { case (g, e) =>
      assert((g._1, g._2, g._3, g._4, g._5) == ((e._1, e._2, e._3, e._4, e._5)))
      // FIXTURES.md golden doubles are printed to 16 sig figs; allow 1 ulp
      assert(math.abs(g._6 - e._6) <= math.ulp(e._6), s"$g vs $e")
    }
  }

  test("invariant: sum of tf per doc = 1") {
    val sums = Tfidf.pipeline(corpus).groupBy("doc_id")
      .agg(sum("tf").as("s")).select("s").as[Double].collect()
    sums.foreach(s => assert(math.abs(s - 1.0) < 1e-12))
  }

  test("invariant: 1 <= df <= N; tfidf = 0 iff df = N") {
    // add a 4th doc so 'apple' appears in 3 of 4 docs and 'everywhere' in all
    val c4 = corpus.union(Seq((4L, "apple everywhere")).toDF("doc_id", "text"))
      .union(Seq((5L, "everywhere")).toDF("doc_id", "text"))
    val everywhere = Seq(
      (1L, "apple everywhere"), (2L, "everywhere"), (3L, "everywhere x"),
    ).toDF("doc_id", "text")
    val r = Tfidf.pipeline(everywhere)
      .select("term", "df", "tfidf").as[(String, Long, Double)].collect()
    r.foreach { case (_, df, _) => assert(df >= 1 && df <= 3) }
    r.foreach { case (term, df, tfidf) =>
      assert((math.abs(tfidf) < 1e-15) == (df == 3), s"$term df=$df tfidf=$tfidf")
    }
  }

  test("N counts ALL docs, including ones with zero surviving tokens") {
    // doc 4 tokenizes to nothing ('123' is digit-dropped) but still inflates N
    val c = corpus.union(Seq((4L, "123")).toDF("doc_id", "text"))
    val df1 = Tfidf.pipeline(c).where($"term" === "apple" && $"doc_id" === 1)
      .select("idf").as[Double].head()
    assert(math.abs(df1 - math.log(4.0 / 2.0)) < 1e-15)
  }

  test("output cardinality = |distinct (term, doc)|") {
    assert(scored.size == 6)
  }

  test("result is invariant under input row permutation") {
    val shuffled = corpus.orderBy(rand(seed = 7))
    val a = Tfidf.rankByValue(Tfidf.pipeline(corpus), "tfidf", Seq("term", "doc_id")).collect().toSeq
    val b = Tfidf.rankByValue(Tfidf.pipeline(shuffled), "tfidf", Seq("term", "doc_id")).collect().toSeq
    assert(a == b)
  }

  test("topKByValue returns the k highest with deterministic ties") {
    val top2 = Tfidf.topKByValue(Tfidf.pipeline(corpus), "tfidf", 2, Seq("term", "doc_id"))
      .select("term", "doc_id").as[(String, Long)].collect().toSeq
    assert(top2 == Seq(("cherry", 3L), ("apple", 1L)))
  }

  test("moreLikeThis ranks the overlapping doc, omits the disjoint one") {
    val docs = Seq(
      (0L, "apple banana cherry"),
      (1L, "apple banana date"),
      (2L, "xray yankee zulu")).toDF("doc_id", "text")
    val got = Tfidf.moreLikeThis(docs, 0L, 5)
      .select("doc_id", "n_shared_terms").as[(Long, Long)].collect().toSeq
    assert(got == Seq((1L, 2L))) // shares apple+banana; doc 2 shares nothing
  }

  test("dfApproxGate passes at sane rsd, throws on an absurd one") {
    val docs = (0L until 200L)
      .map(i => (i, s"w${i % 7} w${i % 13} w${i % 29} shared"))
      .toDF("doc_id", "text")
    val row = Tfidf.dfApproxGate(docs, rsd = 0.01, maxRelErr = 0.1)
      .as[(Long, Double, Double)].collect().head
    assert(row._1 > 0 && row._2 <= 0.1 && row._3 <= row._2)
    // unreachable bar → the require fires (HLL++ is exact in sparse mode
    // at this cardinality, so error can't be seeded via rsd here)
    val ex = intercept[IllegalArgumentException] {
      Tfidf.dfApproxGate(docs, rsd = 0.01, maxRelErr = -0.1).collect()
    }
    assert(ex.getMessage.contains("relative error"))
  }

  test("keywordsPerDoc ranks each doc's own terms, distinctive first") {
    val docs = Seq(
      (1L, "apple apple banana"),
      (2L, "banana cherry cherry")).toDF("doc_id", "text")
    val got = Tfidf.keywordsPerDoc(docs, 5)
      .select("doc_id", "rnk", "term").as[(Long, Long, String)].collect().toSeq
    // banana is in both docs (idf=0) → always ranks after the distinctive term
    assert(got == Seq(
      (1L, 1L, "apple"), (1L, 2L, "banana"),
      (2L, 1L, "cherry"), (2L, 2L, "banana")))
  }

  test("cmsFrequencyGate: sane sketch passes; unreachable bar throws") {
    // letters only — the portable tokenizer drops digit-bearing tokens
    val w5 = "abcde".map(c => s"w$c")
    val w11 = "abcdefghijk".map(c => s"v$c")
    val docs = (0 until 100)
      .map(i => (i.toLong, s"${w5(i % 5)} ${w5(i % 5)} ${w11(i % 11)} zz"))
      .toDF("doc_id", "text")
    val tc = Tfidf.termCounts(Tfidf.tokenizePortable(docs))
    val row = Tfidf.cmsFrequencyGate(tc, k = 5)
      .as[(Long, Double, Double, Long)].collect().head
    assert(row._1 == 5 && row._2 <= 0.1 && row._3 <= row._2)
    // sketch_total = every token occurrence (4 per doc)
    assert(row._4 == 400L)
    // unreachable bar → the require fires driver-visibly
    val ex = intercept[IllegalArgumentException] {
      Tfidf.cmsFrequencyGate(tc, k = 5, maxRelErr = -0.1).collect()
    }
    assert(ex.getMessage.contains("off by") || ex.getMessage.contains("undercounts"))
  }

  test("weighted CMS aggregator equals the expanded-stream sketch, no explode") {
    // literal counts table so the lineage carries no tokenize-side explode —
    // the plan assertion below then isolates the sketch build itself
    val tc = Seq(
      ("alpha", 1L, 7L), ("beta", 1L, 3L), ("alpha", 2L, 5L),
      ("gamma", 2L, 1L), ("delta", 3L, 11L))
      .toDF("term", "doc_id", "cnt")
    val weighted = Tfidf.cmsSketchFrame(tc, 0.0001, 0.99)
    // CMS counters are order-independent sums → feeding (term, cnt) once
    // with weight cnt must produce the BIT-IDENTICAL sketch to the SQL
    // aggregate over the re-expanded occurrence stream (same eps/conf/seed)
    val expanded = tc
      .select(explode(expr("array_repeat(term, cast(cnt as int))")).as("term"))
      .agg(expr("count_min_sketch(term, 0.0001d, 0.99d, 42)").as("cms"))
    val wBytes = weighted.head().getAs[Array[Byte]](0)
    val eBytes = expanded.head().getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(wBytes, eBytes))
    // the whole point: the weighted build's plan re-expands nothing
    val plan = weighted.queryExecution.optimizedPlan.toString
    assert(!plan.contains("Generate") && !plan.contains("array_repeat"))
  }

  test("selfRetrievalEval: distinctive docs retrieve themselves at rank 1") {
    // doc 0 and doc 10 are probes (doc_id % 10 == 0); each carries a unique
    // term, so its own keyword query must rank it first with rr = 1
    val docs = Seq(
      (0L, "unicorn common common"),
      (10L, "dragon common common"),
      (1L, "common filler words here"),
      (2L, "more common filler text")).toDF("doc_id", "text")
    val got = Tfidf.selfRetrievalEvalFromCounts(
      Tfidf.termCounts(Tfidf.tokenizePortable(docs)), 4L)
      .select("q_doc", "self_rank", "rr").as[(Long, Long, Double)].collect().toSeq
    assert(got == Seq((0L, 1L, 1.0), (10L, 1L, 1.0)))
  }

  test("probeKeywordsFromCounts equals keywordsPerDocFromCounts semi-joined to probes") {
    // the eval path restricts scoring to the probe docs BEFORE the ranking
    // window; the rows must be identical to ranking every doc and then
    // semi-joining (the former spelling). Corpus exercises rounded-score
    // ties (term-asc break), k > vocab, and a probe absent from tc
    val docs = Seq(
      (0L, "unicorn common common shared shared"),
      (10L, "dragon common shared"),
      (20L, "tie tye common"), // 'tie'/'tye' same cnt/df -> rounded-score tie
      (1L, "common filler words here shared"),
      (2L, "more common filler text")).toDF("doc_id", "text")
    val tc = Tfidf.termCounts(Tfidf.tokenizePortable(docs))
    // probe 30 has no rows in tc (token-free doc): both spellings emit none
    val probes = Seq(0L, 10L, 20L, 30L).toDF("q_doc")
    val k = 4
    val restricted = Tfidf.probeKeywordsFromCounts(tc, 6L, probes, k)
      .as[(Long, String)].collect().toSeq.sorted
    val full = Tfidf.keywordsPerDocFromCounts(tc, 6L, k)
      .join(broadcast(probes), col("doc_id") === col("q_doc"), "left_semi")
      .select(col("doc_id").as("q_doc"), col("term"))
      .as[(Long, String)].collect().toSeq.sorted
    assert(restricted.nonEmpty && restricted == full)
  }

  test("mergeCounts: disjoint shards concatenate, re-ingest adds") {
    val base = Tfidf.termCounts(Tfidf.tokenizePortable(
      Seq((1L, "aa bb"), (2L, "aa")).toDF("doc_id", "text")))
    val delta = Tfidf.termCounts(Tfidf.tokenizePortable(
      Seq((3L, "bb bb")).toDF("doc_id", "text")))
    val merged = Tfidf.mergeCounts(base, delta)
      .as[(String, Long, Long)].collect().toSet
    // disjoint doc_ids: merge = concatenation
    val full = Tfidf.termCounts(Tfidf.tokenizePortable(
      Seq((1L, "aa bb"), (2L, "aa"), (3L, "bb bb")).toDF("doc_id", "text")))
      .as[(String, Long, Long)].collect().toSet
    assert(merged == full)
    // re-ingesting a doc's tokens is additive per (term, doc), not a dup row
    val again = Tfidf.mergeCounts(base, base).as[(String, Long, Long)].collect().toSet
    assert(again == base.as[(String, Long, Long)].collect()
      .map { case (t, d, c) => (t, d, 2 * c) }.toSet)
  }

  test("incremental merge: counts-split base + token-array delta recount " +
      "equals the tokenize-live spelling") {
    // mixed shapes: digit-bearing tokens (dropped), punctuation trims,
    // a token-free doc, and enough ids that the md5 split is non-trivial
    val docs = Seq(
      (0L, "Apple banana! apple"), (1L, "banana cherry42 cherry"),
      (2L, "cherry, cherry cherry"), (3L, "123 456"), (4L, ""),
      (5L, "apple date"), (6L, "date date banana"), (7L, "fig apple"),
      (8L, "fig fig fig cherry"), (9L, "banana apple date")
    ).toDF("doc_id", "text")
    // the tokenize-live spelling (old registration): anti-join delta
    val base = graft.operators.TextAnalysis.stableSample(docs, "doc_id", 0.7)
    val delta = docs.join(base.select("doc_id"), Seq("doc_id"), "left_anti")
    val live = Tfidf.mergeCounts(
      Tfidf.termCounts(Tfidf.tokenizePortable(base)),
      Tfidf.termCounts(Tfidf.tokenizePortable(delta)))
      .as[(String, Long, Long)].collect().toSet
    // the asset-shaped spelling (the r16 registration): both splits
    // recount from the token-array form of the SAME docs, split by the
    // keep predicate — `!pred` is exactly the anti-join complement (the
    // hash is total on doc_id)
    val pred = graft.operators.TextAnalysis.stableSamplePred("doc_id", 0.7)
    def countsFromArrays(d: org.apache.spark.sql.DataFrame) =
      Tfidf.termCounts(Tfidf.tokenArrays(d)
        .select(col("doc_id"), explode(col("tokens")).as("term")))
    val assetFed = Tfidf.mergeCounts(
      countsFromArrays(docs.where(pred)),
      countsFromArrays(docs.where(!pred)))
      .as[(String, Long, Long)].collect().toSet
    assert(assetFed == live)
    assert(live.nonEmpty)
  }

  test("bm25: hand-computed micro corpus, rarer term outranks") {
    // N=2, doc 1 = [aa aa bb] (len 3), doc 2 = [aa cc] (len 2), avgdl = 2.5
    val docs = Seq((1L, "aa aa bb"), (2L, "aa cc")).toDF("doc_id", "text")
    val out = Tfidf.bm25FromCounts(Tfidf.termCounts(Tfidf.tokenizePortable(docs)), docs.count())
      .select("term", "doc_id", "score")
      .as[(String, Long, Double)].collect().map(r => (r._1, r._2) -> r._3).toMap
    val idfA = math.rint(math.log((2.0 - 2 + 0.5) / (2 + 0.5) + 1.0) * 1e9) / 1e9
    val expA1 = math.rint(idfA * (2 * (1.2 + 1.0)) /
      (2 + 1.2 * (1.0 - 0.75 + 0.75 * 3 / 2.5)) * 1e9) / 1e9
    assert(out(("aa", 1L)) == expA1)
    assert(out(("bb", 1L)) > out(("aa", 1L)), "rarer term must outrank in the same doc")
    assert(out.keySet == Set(("aa", 1L), ("bb", 1L), ("aa", 2L), ("cc", 2L)))
  }
}
