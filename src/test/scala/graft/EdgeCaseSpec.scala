package graft

import org.apache.spark.sql.types._
import org.apache.spark.sql.Row

import graft.operators.{Dedup, Similarity, Tfidf}

/** Degenerate-input behavior: empty tables, null/empty text, singleton
  * corpora. Operators must return empty/neutral results, never throw. */
class EdgeCaseSpec extends SparkSpec {
  import spark.implicits._

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  private def docsOf(rows: Seq[(java.lang.Long, String)]) =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(r => Row(r._1, r._2))), docSchema)

  test("tfidf pipeline on an empty corpus returns no rows") {
    assert(Tfidf.pipeline(docsOf(Seq())).count() == 0)
  }

  test("null and empty text contribute zero tokens but still count in N") {
    val docs = docsOf(Seq((1L, "apple apple"), (2L, null), (3L, "")))
    val out = Tfidf.pipeline(docs)
      .select("term", "df", "idf").as[(String, Long, Double)].collect()
    assert(out.length == 1)
    val (term, df, idf) = out.head
    assert(term == "apple" && df == 1)
    assert(math.abs(idf - math.log(3.0 / 1.0)) < 1e-15) // N=3 despite 2 empty docs
  }

  test("dedup operators tolerate null text and singletons") {
    val docs = docsOf(Seq((1L, "only document here with several tokens"), (2L, null)))
    assert(Dedup.exact(docs).count() == 2)          // null fingerprint group kept
    assert(Dedup.minhashPairs(docs, threshold = 0.1).count() == 0)
    assert(Dedup.simhashPairs(docs).count() == 0)
    assert(Dedup.ngramJaccardExact(docs, minJaccard = 0.0).count() == 0)
  }

  test("similarity search with no matching query ids returns empty") {
    val vecs = Seq((0L, Array(1f, 0f), 0)).toDF("vec_id", "embedding", "label")
    assert(Similarity.knnBruteForce(vecs, Seq(99L), 5).count() == 0)
    assert(Similarity.annCosineLsh(vecs, Seq(99L), 5, planes = 8, bands = 2).count() == 0)
  }

  test("rankByValue on empty input returns empty") {
    assert(Tfidf.rankByValue(docsOf(Seq()), "doc_id", Seq("text")).count() == 0)
  }

  test("connectedComponents on an empty pair table returns no clusters") {
    val pairs = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    assert(graft.operators.Dedup.connectedComponents(pairs).count() == 0)
  }

  test("decontaminate drops sub-gram-length docs from both sides consistently") {
    val bench = Seq((100L, "alpha beta gamma")).toDF("doc_id", "text")
    val train = Seq((1L, "alpha beta"), (2L, "alpha beta gamma more words"))
      .toDF("doc_id", "text")
    val got = graft.operators.Curation.decontaminate(train, bench)
      .select("doc_id").as[Long].collect().toSet
    assert(got == Set(2L)) // doc 1 has 2 tokens → no 3-grams → absent
  }

  test("round-7 planners/audits on degenerate inputs: empty, null-text, no-pair") {
    import org.apache.spark.sql.functions.col
    import graft.operators.{Curation, TextAnalysis}
    // empty term-counts → planner returns no rows (not a zero-grid crash)
    val emptyTc = Seq.empty[(String, Long, Long)].toDF("term", "doc_id", "cnt")
    assert(TextAnalysis.packingEfficiency(emptyTc).count() == 0)
    assert(TextAnalysis.sourceTemperaturePlan(
      Seq.empty[(Long, String)].toDF("doc_id", "source"), emptyTc).count() == 0)
    // calibration over an empty pair table: full zero curve, not absence
    val noPairs = Seq.empty[(Long, Long, Double)].toDF("doc_a", "doc_b", "jaccard")
    val curve = Dedup.dedupThresholdCalibration(noPairs, totalDocs = 7)
      .select("n_pairs", "drop_rate").as[(Long, Double)].collect()
    assert(curve.length == 5 && curve.forall(r => r._1 == 0L && r._2 == 0.0))
    // cross-source matrix with no qualifying pairs → empty
    assert(Dedup.crossSourceDupMatrix(noPairs,
      Seq((1L, "s")).toDF("doc_id", "source")).count() == 0)
    // null-text documents: containment treats them as gram-less, no throw
    val withNull = docsOf(Seq((0L, "a b c d"), (1L, null), (2L, "b c d e")))
    val row = Dedup.corpusContainment(withNull, col("doc_id") % 2 === 0)
      .select("n_grams_ingested", "n_grams_incoming").as[(Long, Long)].head()
    // ingested {0,2} hold {abc,bcd} ∪ {bcd,cde} = 3; the null doc grams to 0
    assert(row == ((3L, 0L)))
    // perplexity buckets on a corpus with zero scoreable docs → empty
    val toks1 = Seq((1L, Seq("solo"))).toDF("doc_id", "tokens")
    val docs1 = Seq((1L, "s")).toDF("doc_id", "source")
    val bg = Seq.empty[(String, String, Long)].toDF("w1", "w2", "n_ab")
    val tc1 = Seq(("solo", 1L, 1L)).toDF("term", "doc_id", "cnt")
    assert(TextAnalysis.perplexityBuckets(docs1, toks1, bg, tc1).count() == 0)
    // semantic decontamination with an empty corpus side → empty, no throw
    val oneVec = Seq((0L, Array(1f, 0f))).toDF("vec_id", "embedding")
    assert(Curation.decontaminateSemantic(oneVec, col("vec_id") >= 0L).count() == 0)
  }

  test("pq search works when the corpus is smaller than the codebook size") {
    val vecs = (0L until 6L).map(i =>
      (i, Array.tabulate(64)(j => (i + 1).toFloat * (j % 3 + 1)), 0))
      .toDF("vec_id", "embedding", "label")
    // codes=32 > 6 vectors: codebooks are just smaller; search must still run
    val got = graft.operators.ProductQuantization.pqSearch(vecs, Seq(0L), k = 3)
    assert(got.count() == 3)
  }

  test("int8 codec edge cases: empty vectors, length mismatch, null safety") {
    import graft.functions.VectorUtil
    import org.apache.spark.sql.catalyst.util.ArrayData
    // empty vector → empty codes → dot 0
    val empty = VectorUtil.i8Encode(ArrayData.toArrayData(Array.empty[Double]), 0.0)
    assert(empty.isEmpty && VectorUtil.i8Dot(empty, empty) == 0L)
    // mismatched code lengths: dot over the shared prefix, never an AIOOBE
    val a = VectorUtil.i8Encode(ArrayData.toArrayData(Array(1.0, 1.0, 1.0)), 1.0)
    val b = VectorUtil.i8Encode(ArrayData.toArrayData(Array(1.0)), 1.0)
    assert(VectorUtil.i8Dot(a, b) == 127L * 127L)
    // SQL surface: NULL input → NULL output (BinaryExpression null-safety)
    val row = spark.sql(
      "SELECT graft_i8_encode(CAST(NULL AS ARRAY<DOUBLE>), CAST(1.0 AS DOUBLE)) AS c, " +
        "graft_i8_dot(CAST(NULL AS BINARY), X'01') AS d").head()
    assert(row.isNullAt(0) && row.isNullAt(1))
  }

  test("compressed-pixel decode never throws on truncated or corrupt payloads") {
    import graft.multimodal.{HeaderCodecs, PixelCodecs}
    val real = HeaderCodecs.makeRealJpeg(6, 4, 7L)
    assert(PixelCodecs.rgbRaster(real).isDefined)
    // truncate INSIDE the entropy-coded scan: ImageIO may throw or return
    // a partial frame internally — the seam must swallow either (the call
    // itself completing IS the property; a partial raster stays RGB-shaped)
    val truncated = HeaderCodecs.compressedRaster(real.take(real.length / 2))
    truncated.foreach(r => assert(r.length % 3 == 0))
    // flipped SOI byte: not a JPEG at all → no decode attempt, None
    val broken = real.clone(); broken(0) = 0
    assert(HeaderCodecs.compressedRaster(broken).isEmpty)
    assert(PixelCodecs.rgbRaster(Array[Byte](1, 2, 3)).isEmpty)
  }
}
