package graftbench

import java.security.MessageDigest
import java.util.SplittableRandom

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** A fixed vocabulary of letter-only words drawn by a Zipf law.
  *
  * Word `r` spells rank `r` in base 90 with consonant-vowel syllables, so
  * every rank has its own spelling, frequent words are short, and no word
  * holds a digit: both of the engine's tokenizers drop any token with a
  * digit, which would leave a `w123`-style corpus without terms. */
final class Vocab(val size: Int, zipfS: Double) {
  val words: Array[String] = Array.tabulate(size)(Vocab.spell)

  private val cdf: Array[Double] = {
    val c = new Array[Double](size)
    var acc = 0.0
    var r = 0
    while (r < size) { acc += 1.0 / math.pow(r + 1.0, zipfS); c(r) = acc; r += 1 }
    var i = 0
    while (i < size) { c(i) /= acc; i += 1 }
    c
  }

  /** One Zipf-distributed word id. */
  def draw(rng: SplittableRandom): Int = {
    val u = rng.nextDouble()
    var lo = 0
    var hi = size - 1
    while (lo < hi) { val mid = (lo + hi) >>> 1; if (cdf(mid) > u) hi = mid else lo = mid + 1 }
    lo
  }

  /** Position of each word id in byte-wise (Spark string) order. */
  lazy val lexRank: Array[Int] = {
    val byLex = Array.range(0, size).sortBy(words(_))
    val rank = new Array[Int](size)
    var i = 0
    while (i < size) { rank(byLex(i)) = i; i += 1 }
    rank
  }
}

object Vocab {
  private val Consonants = "bcdfghjklmnprstvwz"
  private val Vowels = "aeiou"

  def spell(rank: Int): String = {
    val sb = new java.lang.StringBuilder
    var x = rank
    while ({
      val s = x % 90
      sb.append(Consonants.charAt(s / 5)).append(Vowels.charAt(s % 5))
      x /= 90
      x > 0
    }) ()
    sb.toString
  }
}

/** Shape of one generated corpus. `clusters` planted near-duplicate
  * clusters of 2..`maxCluster` members are added on top of `docs` random
  * documents; every member is its cluster's base text with a share
  * `editRate` of its tokens replaced. */
final case class CorpusSpec(
    docs: Int,
    minLen: Int,
    maxLen: Int,
    vocabSize: Int = 100000,
    zipfS: Double = 1.0,
    decorShare: Double = 0.1,
    clusters: Int = 0,
    maxCluster: Int = 4,
    editRate: Double = 0.0)

/** A generated corpus. `terms(i)` is document `i`'s token stream after
  * normalization (word ids), which the generator knows without running
  * either tokenizer; `text(i)` is what the engine reads. Document `i` has
  * `doc_id = i`. `plantedPairs` holds every `(a, b)`, `a < b`, of two
  * documents in the same planted cluster, encoded as `a * docs + b`. */
final class Corpus(
    val vocab: Vocab,
    val terms: Array[Array[Int]],
    var text: Array[String],
    val plantedPairs: Array[Long]) {

  def docs: Int = terms.length
  val tokens: Long = terms.iterator.map(_.length.toLong).sum
  lazy val distinctTerms: Int = {
    val seen = new java.util.BitSet(vocab.size)
    terms.foreach(_.foreach(seen.set))
    seen.cardinality()
  }

  /** SHA-256 over every `doc_id \t text \n` line, in doc_id order. */
  val digest: String = {
    val md = MessageDigest.getInstance("SHA-256")
    var i = 0
    while (i < text.length) {
      md.update(s"$i\t${text(i)}\n".getBytes("UTF-8"))
      i += 1
    }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  /** Write `documents.parquet` (`doc_id: long, text: string`) under `dir`,
    * the layout `graft.sources.Tables.documents` reads, then drop the text:
    * from here on the engine reads it from disk. */
  def write(spark: SparkSession, dir: String, files: Int): Unit = {
    val schema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("text", StringType, nullable = false)))
    val rows = text.indices.map(i => Row(i.toLong, text(i)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, files), schema)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    text = null
  }

  def describe: Map[String, Any] = Map(
    "digest" -> digest, "docs" -> docs, "tokens" -> tokens,
    "distinct_terms" -> distinctTerms, "planted_pairs" -> plantedPairs.length)
}

object Corpus {
  private val Trailing = Array(".", ",", ";", ":", "!", "?")
  /** Surface variants per word: plain, then the decorated ones. */
  private val Variants = 5 + Trailing.length

  /** Surface form `v` of word `w`. Each decoration is case, or Unicode
    * punctuation at the word's edges, so the reference normalizer (edge
    * punctuation trim, lower) and the portable one (lower, trim
    * non-letters) both map it back to `w`. */
  private def surface(w: String, v: Int): String = v match {
    case 0 => w
    case 1 => w.capitalize
    case 2 => w.toUpperCase
    case 3 => "(" + w + ")"
    case 4 => "\"" + w + "\""
    case _ => w + Trailing(v - 5)
  }

  def generate(spec: CorpusSpec, seed: Long): Corpus = {
    val vocab = new Vocab(spec.vocabSize, spec.zipfS)
    val rng = new SplittableRandom(seed)
    // a token is word id * Variants + surface variant; a share decorShare
    // of tokens gets a decorated variant
    def token(): Int = vocab.draw(rng) * Variants +
      (if (rng.nextDouble() < spec.decorShare) 1 + rng.nextInt(Variants - 1) else 0)
    def randomDoc(): Array[Int] =
      Array.fill(spec.minLen + rng.nextInt(spec.maxLen - spec.minLen + 1))(token())

    val base = Array.fill(spec.docs)(randomDoc())
    // planted clusters: a fresh base text plus 1..maxCluster-1 copies with
    // a share editRate of tokens replaced
    val clusterDocs = Array.fill(spec.clusters) {
      val root = randomDoc()
      val size = 2 + rng.nextInt(spec.maxCluster - 1)
      root +: Array.fill(size - 1)(root.map(t =>
        if (rng.nextDouble() < spec.editRate) token() else t))
    }
    val all = base ++ clusterDocs.flatten
    // shuffle so cluster members get unrelated doc ids
    val order = Array.range(0, all.length)
    var i = order.length - 1
    while (i > 0) {
      val j = rng.nextInt(i + 1)
      val t = order(i); order(i) = order(j); order(j) = t
      i -= 1
    }
    val idOf = new Array[Int](all.length)
    order.indices.foreach(pos => idOf(order(pos)) = pos)
    val tokens = order.map(all(_))

    val n = all.length.toLong
    val pairs = Array.newBuilder[Long]
    var first = spec.docs
    clusterDocs.foreach { members =>
      val ids = members.indices.map(k => idOf(first + k)).sorted
      for (a <- ids.indices; b <- a + 1 until ids.length) pairs += ids(a) * n + ids(b)
      first += members.length
    }

    val text = tokens.map(doc =>
      doc.iterator.map(t => surface(vocab.words(t / Variants), t % Variants)).mkString(" "))
    new Corpus(vocab, tokens.map(_.map(_ / Variants)), text, pairs.result().sorted)
  }
}
