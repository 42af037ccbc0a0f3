package graftbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.{CacheScope, Dedup, Tfidf}
import graft.sources.{Tables, TabKv}

/** What a workload's operations need from the harness. `docs` is the
  * input's document count, counted by each set-up pass. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val dataDir: String,
    val workDir: Path, val cpus: Int) {
  var docs = 0L

  def documents(): DataFrame = Tables.documents(spark, dataDir)

  /** The set-up input scan, common to every workload. */
  def scanInput(): Unit =
    docs = tracer.layer("sources.read") { val n = documents().count(); (n, n) }
}

/** Agreement of one operation's output with the oracle: `matched` of the
  * `expected` oracle rows were reproduced among `returned` output rows. */
final case class Outcome(ok: Boolean, matched: Long, expected: Long, returned: Long)

object Outcome {
  val Failed: Outcome = Outcome(ok = false, 0L, 0L, 0L)
}

/** One benchmark workload: a seeded corpus, its oracle, a set-up pass and a
  * repeatable operation. Operations run one at a time from one client
  * thread (a closed loop). */
abstract class Workload(val name: String) {
  def spec: CorpusSpec
  /** Fewest untimed warm-up operations. Most of an operation's time is
    * planning and scheduling code that runs once per operation, so the JIT needs a number
    * of operations, not of seconds, to compile it. */
  def warmupOps: Int = 3
  /** Whether the session cache is cleared after each operation; false
    * when operations read state that set-up cached. */
  def freshState: Boolean = true

  /** Compute the expected answers; runs before set-up, untimed. */
  def prepare(c: Corpus): Unit
  /** One set-up pass: scan the input and build what operations read. */
  def setup(ctx: Ctx): Unit = ctx.scanInput()
  /** Release what the previous set-up pass built. */
  def discardSetup(ctx: Ctx): Unit = ()
  /** Untimed work before operation `i`. */
  def before(ctx: Ctx, i: Int): Unit = ()
  /** Operation `i`, as a user calls it (`traced = false`) or split into its
    * layer calls, each forced and traced (`traced = true`). */
  def run(ctx: Ctx, i: Int, traced: Boolean): Unit
  /** Check operation `i`'s output against the oracle. */
  def verify(ctx: Ctx, i: Int): Outcome
  /** Extra per-layer values of a traced run. */
  def layerValues(ctx: Ctx): Map[String, Double] = Map.empty
}

object Workload {
  def apply(name: String): Workload = name match {
    case "tfidf_rank" => new TfidfRank
    case "near_dup" => new NearDup
    case "search_serve" => new SearchServe
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  /** Persist `df` and count it: forces a layer's full output. */
  def forced(df: DataFrame): (DataFrame, Long) = {
    val p = df.persist()
    (p, p.count())
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally s.close()
    }
}

import Workload.{deleteTree, forced}

/** The paper's job (`graft.Main`): reference tokenizer, TF-IDF scores,
  * global ranking, tab-KV text output. */
final class TfidfRank extends Workload("tfidf_rank") {
  val spec = CorpusSpec(docs = 4000, minLen = 40, maxLen = 100)
  private var ranking: Oracle.Ranking = _
  private var words: Array[String] = _

  private def out(ctx: Ctx): Path = ctx.workDir.resolve("ranking")

  def prepare(c: Corpus): Unit = {
    ranking = Oracle.tfidfRanking(Oracle.counts(c), c.vocab)
    words = c.vocab.words
  }

  override def before(ctx: Ctx, i: Int): Unit = deleteTree(out(ctx))

  def run(ctx: Ctx, i: Int, traced: Boolean): Unit = {
    val path = out(ctx).toString
    val order = Seq("term", "doc_id")
    if (!traced) CacheScope {
      val scored = Tfidf.pipeline(ctx.documents(), ctx.docs, portable = false)
      TabKv.writeScores(Tfidf.rankByValue(scored, "tfidf", order), path)
    }
    else ctx.tracer.op(name) {
      val tr = ctx.tracer
      val docs = ctx.documents()
      tr.layer("sources.read") {
        docs.write.format("noop").mode("overwrite").save(); ((), ctx.docs)
      }
      val tokens = tr.layer("tfidf.tokenize")(forced(Tfidf.tokenize(docs)))
      val tc = tr.layer("tfidf.term_counts")(forced(Tfidf.termCounts(tokens)))
      tokens.unpersist()
      val (totals, dfreq) = tr.layer("tfidf.doc_stats") {
        val (t, _) = forced(Tfidf.docTotals(tc))
        val (d, vocab) = forced(Tfidf.docFreq(tc))
        ((t, d), vocab)
      }
      val scored = tr.layer("tfidf.score")(forced(
        Tfidf.score(tc, totals, dfreq, ctx.docs)
          .select("term", "doc_id", "cnt", "doc_total", "df", "tf", "idf", "tfidf")))
      val ranked = tr.layer("tfidf.rank")(forced(Tfidf.rankByValue(scored, "tfidf", order)))
      tr.layer("sources.tabkv_write") {
        TabKv.writeScores(ranked, path)
        val s = Files.walk(out(ctx))
        try ((), s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum)
        finally s.close()
      }
    }
  }

  /** Read the written `term|doc \t score` lines in part-file order and
    * compare each with the oracle's row at the same rank. */
  def verify(ctx: Ctx, i: Int): Outcome = {
    val parts = {
      val s = Files.list(out(ctx))
      try s.iterator().asScala.filter(_.getFileName.toString.startsWith("part-")).toSeq
        .sortBy(_.getFileName.toString)
      finally s.close()
    }
    var row = 0
    var matched = 0L
    parts.foreach { p =>
      val r = Files.newBufferedReader(p)
      try {
        var line = r.readLine()
        while (line != null) {
          if (row < ranking.rows) {
            val bar = line.indexOf('|')
            val tab = line.indexOf('\t', bar + 1)
            if (bar > 0 && tab > bar &&
                line.regionMatches(0, words(ranking.term(row)), 0, bar) &&
                words(ranking.term(row)).length == bar &&
                line.substring(bar + 1, tab).toLong == ranking.doc(row) &&
                math.abs(line.substring(tab + 1).toDouble - ranking.score(row)) <= 1e-9)
              matched += 1
          }
          row += 1
          line = r.readLine()
        }
      } finally r.close()
    }
    Outcome(matched == ranking.rows && row == ranking.rows, matched, ranking.rows, row)
  }
}

/** Near-duplicate removal: MinHash LSH pairs, connected components, the
  * filtered corpus. Bypasses the `Tfidf` layer. */
final class NearDup extends Workload("near_dup") {
  /** About 7,000 documents: an operation spends about 1.7 s on planning and
    * scheduling whatever its input, and that part speeds up for dozens of
    * operations as the JIT compiles it. On 1,400 documents it was nearly
    * all of the time, so a run's median depended on how far the JIT
    * had got; here the kernels do a large share of the work. */
  val spec = CorpusSpec(docs = 4000, minLen = 80, maxLen = 160, clusters = 1000,
    editRate = 0.01)
  private var planted: Set[Long] = Set.empty
  private var nDocs = 0L
  private var pairs: Array[(Long, Long)] = Array.empty
  private var kept: Array[Long] = Array.empty
  /** Planted copies differ in about 1% of tokens (shingle Jaccard about
    * 0.9), far above the 0.7 threshold, so MinHash LSH finds nearly all. */
  private val MinShare = 0.95

  def prepare(c: Corpus): Unit = {
    planted = c.plantedPairs.toSet
    nDocs = c.docs
  }

  def run(ctx: Ctx, i: Int, traced: Boolean): Unit = CacheScope {
    val docs = ctx.documents()
    if (!traced) {
      val p = Dedup.minhashPairs(docs).persist()
      pairs = p.collect().map(r => (r.getLong(0), r.getLong(1)))
      val labels = Dedup.connectedComponents(p.select("doc_a", "doc_b"))
      kept = Dedup.applyDedupLabels(docs, labels).select("doc_id").collect().map(_.getLong(0))
    } else ctx.tracer.op(name) {
      val tr = ctx.tracer
      tr.layer("sources.read") {
        docs.write.format("noop").mode("overwrite").save(); ((), ctx.docs)
      }
      tr.layer("dedup.signatures")(forced(Dedup.minhashSignatures(docs))).unpersist()
      val p = tr.layer("dedup.pairs") {
        val (p, _) = forced(Dedup.minhashPairs(docs))
        pairs = p.collect().map(r => (r.getLong(0), r.getLong(1)))
        (p, pairs.length.toLong)
      }
      val labels = tr.layer("dedup.components") {
        val l = Dedup.connectedComponents(p.select("doc_a", "doc_b"))
        (l, l.count())
      }
      tr.layer("dedup.apply") {
        kept = Dedup.applyDedupLabels(docs, labels).select("doc_id").collect().map(_.getLong(0))
        ((), kept.length.toLong)
      }
    }
  }

  /** Pairs are scored against the planted truth (recall, precision). The
    * operation is correct when recall and precision are at least
    * [[MinShare]] and the kept documents are exactly those that are not a
    * non-minimum member of a component of the reported pairs. */
  def verify(ctx: Ctx, i: Int): Outcome = {
    val parent = mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    val losers = parent.keys.filter(d => find(d) != d).toSet
    val expectedKept = (0L until nDocs).filterNot(losers).toSet
    val keptOk = kept.length == expectedKept.size && kept.forall(expectedKept)
    val reported = pairs.map { case (a, b) => a * nDocs + b }.toSet
    val matched = reported.count(planted).toLong
    val found = matched >= MinShare * planted.size && matched >= MinShare * pairs.length
    Outcome(keptOk && found && reported.size == pairs.length, matched, planted.size,
      pairs.length)
  }
}

/** Search serving: set-up builds and caches a BM25 index; operations are
  * 1-3 term queries answered from it. */
final class SearchServe extends Workload("search_serve") {
  val spec = CorpusSpec(docs = 5000, minLen = 40, maxLen = 100)
  override def warmupOps = 60
  override def freshState = false
  private val K = 20
  private var index: DataFrame = _
  private var oracle: Oracle.Bm25 = _
  private var words: Array[String] = _
  private var queries: Array[Seq[Int]] = Array.empty
  private val answers = mutable.HashMap.empty[Int, Array[Oracle.Hit]]
  private val examined = mutable.ArrayBuffer.empty[(Long, Long)]

  def prepare(c: Corpus): Unit = {
    oracle = Oracle.bm25(Oracle.counts(c), c.vocab.size)
    words = c.vocab.words
    // a query's first term follows the corpus' Zipf law (mostly head
    // terms); each further term is a Zipf or a uniform (mostly tail) draw
    val rng = new java.util.SplittableRandom(c.digest.hashCode.toLong)
    queries = Array.fill(4096) {
      Seq.tabulate(1 + rng.nextInt(3)) { j =>
        if (j == 0 || rng.nextBoolean()) c.vocab.draw(rng) else rng.nextInt(c.vocab.size)
      }
    }
  }

  override def setup(ctx: Ctx): Unit = {
    ctx.scanInput()
    val tr = ctx.tracer
    val docs = ctx.documents()
    val tc =
      if (!tr.enabled) Tfidf.termCounts(Tfidf.tokenizePortable(docs)).persist()
      else {
        val tokens = tr.layer("tfidf.tokenize")(forced(Tfidf.tokenizePortable(docs)))
        val tc = tr.layer("tfidf.term_counts")(forced(Tfidf.termCounts(tokens)))
        tokens.unpersist()
        tr.layer("tfidf.doc_stats") {
          val (t, _) = forced(Tfidf.docTotals(tc))
          val (d, vocab) = forced(Tfidf.docFreq(tc))
          t.unpersist(); d.unpersist()
          ((), vocab)
        }
        tc
      }
    // the caller contract of `searchByTermsBm25FromScores`: the served
    // index is spread round-robin and cached once
    index = tr.layer("tfidf.bm25_index")(forced(
      Tfidf.bm25FromCounts(tc, ctx.docs).repartition(ctx.cpus)))
    tc.unpersist(true)
  }

  override def discardSetup(ctx: Ctx): Unit = if (index != null) index.unpersist(true)

  def run(ctx: Ctx, i: Int, traced: Boolean): Unit = {
    val terms = queries(i % queries.length).map(words)
    def query() = {
      val q = Tfidf.searchByTermsBm25FromScores(index, terms, K)
      val rows = q.collect()
      if (traced)
        examined += ((Plans.scannedCachedRows(q.queryExecution.executedPlan), rows.length.toLong))
      rows
    }
    val rows =
      if (!traced) query()
      else ctx.tracer.op(name) {
        ctx.tracer.layer("tfidf.search") { val r = query(); (r, r.length.toLong) }
      }
    answers(i) = rows.map(r => Oracle.Hit(r.getLong(0), r.getLong(1), r.getDouble(2)))
  }

  def verify(ctx: Ctx, i: Int): Outcome = {
    val want = Oracle.searchTopK(oracle, queries(i % queries.length), K)
    val got = answers.remove(i).getOrElse(Array.empty)
    val matched = want.zip(got).count { case (w, g) =>
      w.doc == g.doc && w.hits == g.hits && math.abs(w.score - g.score) <= 1e-9
    }.toLong
    Outcome(matched == want.size && got.length == want.size, matched, want.size, got.length)
  }

  override def layerValues(ctx: Ctx): Map[String, Double] = {
    val rowsExamined = Stats.median(examined.map(_._1.toDouble).toSeq)
    val returned = examined.map(_._2).sum
    Map(
      "tfidf.search.rows_examined" -> rowsExamined,
      "tfidf.search.rows_returned" -> Stats.median(examined.map(_._2.toDouble).toSeq),
      "tfidf.search.examined_per_returned" ->
        (if (returned == 0) 0.0 else examined.map(_._1).sum.toDouble / returned))
  }
}
