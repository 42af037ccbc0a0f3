package graftbench

import java.math.{BigDecimal => JBigDecimal, RoundingMode}

/** Expected answers computed in plain Scala from the generator's own token
  * streams: no Spark, no engine code. The arithmetic repeats the engine's
  * documented operation order (`Tfidf.score`, `Tfidf.bm25FromCounts`,
  * `Tfidf.searchByTermsBm25FromScores`) with `StrictMath.log`, the
  * function Spark's `log` evaluates, so scores agree to the last bit. */
object Oracle {

  /** Per-document term counts: `terms(d)`/`counts(d)` are the distinct
    * word ids of document `d` (ascending) and their occurrence counts. */
  final class Counts(val terms: Array[Array[Int]], val counts: Array[Array[Int]],
      val totals: Array[Int], val df: Array[Int]) {
    def docs: Int = terms.length
    def postings: Long = terms.iterator.map(_.length.toLong).sum
  }

  def counts(c: Corpus): Counts = {
    val df = new Array[Int](c.vocab.size)
    val terms = new Array[Array[Int]](c.docs)
    val counts = new Array[Array[Int]](c.docs)
    var d = 0
    while (d < c.docs) {
      val sorted = c.terms(d).sorted
      val t = Array.newBuilder[Int]
      val k = Array.newBuilder[Int]
      var i = 0
      while (i < sorted.length) {
        var j = i
        while (j < sorted.length && sorted(j) == sorted(i)) j += 1
        t += sorted(i); k += j - i; df(sorted(i)) += 1
        i = j
      }
      terms(d) = t.result(); counts(d) = k.result()
      d += 1
    }
    new Counts(terms, counts, c.terms.map(_.length), df)
  }

  /** The global TF-IDF ranking: rows in (tfidf desc, term asc, doc_id asc)
    * order, as parallel arrays. */
  final class Ranking(val term: Array[Int], val doc: Array[Int], val score: Array[Double]) {
    def rows: Int = term.length
  }

  def tfidfRanking(cnt: Counts, vocab: Vocab): Ranking = {
    val n = cnt.postings.toInt
    val term = new Array[Int](n)
    val doc = new Array[Int](n)
    val score = new Array[Double](n)
    val nDocs = cnt.docs.toDouble
    var p = 0
    var d = 0
    while (d < cnt.docs) {
      val ts = cnt.terms(d)
      var i = 0
      while (i < ts.length) {
        val tf = cnt.counts(d)(i).toDouble / cnt.totals(d).toDouble
        val idf = StrictMath.log(nDocs / cnt.df(ts(i)).toDouble)
        term(p) = ts(i); doc(p) = d; score(p) = tf * idf
        p += 1; i += 1
      }
      d += 1
    }
    val lex = vocab.lexRank
    val order = IndexSort.sort(n, (a, b) => {
      val s = java.lang.Double.compare(score(b), score(a))
      if (s != 0) s
      else {
        val t = Integer.compare(lex(term(a)), lex(term(b)))
        if (t != 0) t else Integer.compare(doc(a), doc(b))
      }
    })
    new Ranking(order.map(term), order.map(doc), order.map(score))
  }

  /** Spark's `round(x, 9)` on a double. */
  def round9(x: Double): Double =
    JBigDecimal.valueOf(x).setScale(9, RoundingMode.HALF_UP).doubleValue

  /** BM25 postings per word id: `docs(t)` ascending, `scores(t)` aligned. */
  final class Bm25(val docs: Array[Array[Int]], val scores: Array[Array[Double]])

  def bm25(cnt: Counts, vocabSize: Int, k1: Double = 1.2, b: Double = 0.75): Bm25 = {
    val n = cnt.docs.toDouble
    val avgdl = cnt.totals.iterator.map(_.toLong).sum.toDouble / math.max(1, cnt.docs)
    val idf = Array.tabulate(vocabSize) { t =>
      val df = cnt.df(t).toDouble
      round9(StrictMath.log((n - df + 0.5) / (df + 0.5) + 1.0))
    }
    val docs = Array.tabulate(vocabSize)(t => new Array[Int](cnt.df(t)))
    val scores = Array.tabulate(vocabSize)(t => new Array[Double](cnt.df(t)))
    val fill = new Array[Int](vocabSize)
    var d = 0
    while (d < cnt.docs) {
      val ts = cnt.terms(d)
      var i = 0
      while (i < ts.length) {
        val t = ts(i)
        val c = cnt.counts(d)(i).toDouble
        val s = idf(t) * (c * (k1 + 1.0)) /
          (c + k1 * (1.0 - b + b * cnt.totals(d).toDouble / avgdl))
        docs(t)(fill(t)) = d; scores(t)(fill(t)) = round9(s)
        fill(t) += 1; i += 1
      }
      d += 1
    }
    new Bm25(docs, scores)
  }

  /** One search hit: `(doc_id, n_hits, score)`. */
  final case class Hit(doc: Long, hits: Long, score: Double)

  /** Top-`k` documents by summed BM25 over `query` (decimal sum, then
    * round to 9), ties to the smaller doc_id. */
  def searchTopK(index: Bm25, query: Seq[Int], k: Int): Seq[Hit] = {
    val acc = new java.util.HashMap[Int, (Long, JBigDecimal)]()
    query.distinct.foreach { t =>
      val ds = index.docs(t)
      var i = 0
      while (i < ds.length) {
        val add = new JBigDecimal(java.lang.Double.toString(index.scores(t)(i)))
        val prev = acc.get(ds(i))
        acc.put(ds(i), if (prev == null) (1L, add) else (prev._1 + 1, prev._2.add(add)))
        i += 1
      }
    }
    val hits = Array.newBuilder[Hit]
    acc.forEach((d, v) => hits += Hit(d.toLong, v._1, round9(v._2.doubleValue)))
    hits.result().sortBy(h => (-h.score, h.doc)).take(k).toSeq
  }
}

/** Stable merge sort of the indices `0 until n` under a comparator on
  * indices, without boxing. */
object IndexSort {
  def sort(n: Int, cmp: (Int, Int) => Int): Array[Int] = {
    var src = Array.range(0, n)
    var dst = new Array[Int](n)
    var width = 1
    while (width < n) {
      var lo = 0
      while (lo < n) {
        val mid = math.min(lo + width, n)
        val hi = math.min(lo + 2 * width, n)
        var i = lo; var j = mid; var k = lo
        while (k < hi) {
          if (i < mid && (j >= hi || cmp(src(i), src(j)) <= 0)) { dst(k) = src(i); i += 1 }
          else { dst(k) = src(j); j += 1 }
          k += 1
        }
        lo = hi
      }
      val t = src; src = dst; dst = t
      width *= 2
    }
    src
  }
}
