package graft

import scala.math.BigDecimal.RoundingMode

import graft.operators.{Dedup, Similarity}
import graft.streaming.Streams

/** Differential pins of the banded-LSH users against one plain-Scala
  * reference: bucket every row by (band, band slice), keep the lowest
  * `maxBucket` ids per bucket, form the bucket pairs, verify. The slice
  * itself stands in for its xxhash64 band key (equal slices hash equal; a
  * 64-bit collision of unequal slices is not expected on a fixture this
  * small). Each fixture holds a cluster larger than the cap, so the cap
  * changes the answer. */
class LshSpec extends SparkSpec {
  import spark.implicits._

  private val rng = new scala.util.Random(20261019L)
  // letters only: the portable tokenizer behind SimHash drops digit tokens
  private val vocab = (0 until 150).map(i =>
    Seq(i % 26, i / 26, (i * 7 + 3) % 26).map(c => ('a' + c).toChar).mkString)
  private def randomText(n: Int): String =
    Seq.fill(n)(vocab(rng.nextInt(vocab.size))).mkString(" ")
  private def mutate(text: String, edits: Int): String = {
    val t = text.split(" ")
    (1 to edits).foreach(_ => t(rng.nextInt(t.length)) = vocab(rng.nextInt(vocab.size)))
    t.mkString(" ")
  }

  // six copies of one text (one upper-cased and re-spaced: the same after
  // canonicalization), its 1-8 token variants, six near-dup triples,
  // unrelated texts and two texts of at most one shingle
  private val texts: Seq[(Long, String)] = {
    val boiler = randomText(40)
    val bases = Seq.fill(6)(randomText(40))
    val all = Seq.fill(5)(boiler) ++ Seq("  " + boiler.toUpperCase.replace(" ", " \t ")) ++
      Seq(1, 2, 4, 8).map(mutate(boiler, _)) ++
      bases.flatMap(b => Seq(b, mutate(b, 1), mutate(b, 3))) ++
      Seq.fill(30)(randomText(40)) ++ Seq("ab", "short")
    rng.shuffle(all).zipWithIndex.map { case (t, i) => (i + 1L, t) }
  }
  private lazy val docs = texts.toDF("doc_id", "text")

  private type Buckets[T] = Map[(Int, Seq[T]), Seq[Long]]

  /** Ids per (band, slice) bucket, ascending, each cut to its `cap` lowest. */
  private def buckets[T](sigs: Seq[(Long, Seq[T])], bands: Int,
      cap: Option[Int]): Buckets[T] =
    sigs.flatMap { case (id, sig) =>
      val r = sig.length / bands
      (0 until bands).map(b => (b, sig.slice(b * r, b * r + r)) -> id)
    }.groupBy(_._1).map { case (key, rows) =>
      val ids = rows.map(_._2).sorted
      key -> cap.fold(ids)(ids.take)
    }

  private def pairs[T](bs: Buckets[T]): Set[(Long, Long)] =
    bs.values.flatMap(ids => for (a <- ids; b <- ids if a < b) yield (a, b)).toSet

  private def canon(t: String): String = t.toLowerCase.replaceAll("\\s+", " ").trim

  /** Reference OPH signatures of every text with at least one shingle. */
  private def minhashSigs(k: Int, n: Int): Map[Long, Seq[Long]] =
    texts.collect { case (id, t) if canon(t).length >= n =>
      id -> OphReference.signature(canon(t), n, k)
    }.toMap

  private def agreement(a: Seq[Long], b: Seq[Long]): Double =
    a.indices.count(i => a(i) == b(i)).toDouble / a.length

  test("minhashPairs matches the plain-Scala capped banded-LSH reference") {
    val (k, bands, threshold, maxBucket) = (32, 8, 0.5, 3)
    val sigs = minhashSigs(k, 5)
    def ref(cap: Option[Int]) = pairs(buckets(sigs.toSeq, bands, cap)).toSeq.sorted
      .map { case (a, b) => (a, b, agreement(sigs(a), sigs(b))) }
      .filter(_._3 >= threshold)
    val got = Dedup.minhashPairs(docs, k = k, bands = bands, threshold = threshold,
        maxBucket = maxBucket)
      .as[(Long, Long, Double)].collect().toSeq
    assert(got == ref(Some(maxBucket)) && got.nonEmpty)
    assert(ref(None).size > got.size, "the bucket cap must drop pairs on this fixture")
  }

  test("nearDupsBatch matches the plain-Scala keep-lowest-ids store reference") {
    val (k, bands, threshold, maxBucket) = (32, 8, 0.5, 3)
    val sigs = minhashSigs(k, 5)
    val all = buckets(sigs.toSeq, bands, None)
    val ref = all.toSeq.flatMap { case ((band, _), ids) =>
      val stored = ids.take(maxBucket)
      for (d <- ids; s <- stored if s < d && agreement(sigs(s), sigs(d)) >= threshold)
        yield (d, s, band, agreement(sigs(s), sigs(d)))
    }.sorted
    val got = Streams.nearDupsBatch(docs, k = k, bands = bands, threshold = threshold,
        maxBucket = maxBucket)
      .select("doc_id", "dup_of", "band", "jaccard_est")
      .as[(Long, Long, Int, Double)].collect().toSeq.sorted
    assert(got == ref && got.nonEmpty)
    assert(all.values.exists(_.size > maxBucket), "some bucket must exceed the cap")
  }

  test("cosinePairsLsh matches the plain-Scala capped SRP banded-LSH reference") {
    val (dim, planes, bands, threshold, maxBucket) = (8, 16, 4, 0.9, 3)
    val r = new scala.util.Random(7L)
    val centers = Seq.fill(4)(Array.fill(dim)(r.nextGaussian()))
    // four clusters of ten near-collinear vectors, four exact copies of one
    // center, and unrelated vectors
    val raw = centers.flatMap(c => Seq.fill(10)(c.map(_ + 0.05 * r.nextGaussian()))) ++
      Seq.fill(4)(centers.head) ++ Seq.fill(20)(Array.fill(dim)(r.nextGaussian()))
    val vecs = r.shuffle(raw).zipWithIndex.map { case (v, i) => (i + 1L, v.map(_.toFloat)) }
    val df = vecs.toDF("vec_id", "embedding")
    val bits = df.selectExpr("vec_id",
        s"graft_sign_bits(cast(embedding as array<double>), $planes)")
      .as[(Long, Array[Int])].collect().map { case (id, b) => id -> b.toSeq }.toSeq
    val v = vecs.map { case (id, e) => id -> e.map(_.toDouble) }.toMap
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0
      a.indices.foreach(i => s += a(i) * b(i))
      s
    }
    def cos(a: Long, b: Long): Double = {
      val c = dot(v(a), v(b)) / (math.sqrt(dot(v(a), v(a))) * math.sqrt(dot(v(b), v(b))))
      BigDecimal(c).setScale(6, RoundingMode.HALF_UP).toDouble
    }
    def ref(cap: Option[Int]) = pairs(buckets(bits, bands, cap)).toSeq.sorted
      .map { case (a, b) => (a, b, cos(a, b)) }
      .filter(_._3 >= threshold)
    val got = Similarity.cosinePairsLsh(df, threshold, planes, bands, maxBucket)
      .as[(Long, Long, Double)].collect().toSeq
    assert(got == ref(Some(maxBucket)) && got.nonEmpty)
    assert(ref(None).size > got.size, "the bucket cap must drop pairs on this fixture")
  }

  test("simhashPairs matches the uncapped chunk-bucket reference and brute force") {
    val sigs = Dedup.simhashSignatures(docs).as[(Long, Long)].collect().toSeq
    val chunks = sigs.map { case (id, h) => id -> (0 until 4).map(c => (h >> (c * 16)) & 0xFFFFL) }
    val simhash = sigs.toMap
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(simhash(a) ^ simhash(b))
    val ref = pairs(buckets(chunks, 4, None)).toSeq.sorted
      .map { case (a, b) => (a, b, hamming(a, b)) }
      .filter(_._3 <= 3)
    val got = Dedup.simhashPairs(docs).as[(Long, Long, Int)].collect().toSeq
    assert(got == ref)
    val ids = simhash.keys.toSeq.sorted
    val brute = for (a <- ids; b <- ids if a < b && hamming(a, b) <= 3)
      yield (a, b, hamming(a, b))
    assert(got == brute)
    assert(got.exists(_._3 > 0), "the fixture must hold near, not only exact, SimHash pairs")
  }
}
