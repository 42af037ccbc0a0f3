package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import graft.GraftSession

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Mean of the middle half of the sample: a closed loop's throughput is
    * 1 / mean latency, and this mean ignores the slowest and fastest
    * quarters, where interference from outside the program lands. */
  def interquartileMean(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val mid = s.slice(s.length / 4, s.length - s.length / 4)
    mid.sum / mid.length
  }

  /** Nearest-rank quantile; 0 for an empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      s(math.min(s.length - 1, math.max(0, math.ceil(q * s.length).toInt - 1)))
    }
}

/** Runs one workload in this JVM and prints two JSON lines on stdout: the
  * run's record (`{"record": ...}`: host, corpus, samples, error share)
  * and then its result (`correct`, `attempted`, `failed`, `values`).
  *
  * {{{
  * graftbench.Main --workload W --seed N --seconds S --trace 0|1
  *   --data DIR --work DIR
  * }}}
  *
  * Order of a run: session start; corpus generation and oracle (untimed);
  * three set-up passes; warm-up operations; the timed phase, which runs
  * operations until they have taken `--seconds` in total. A traced run
  * spends the first half of its timed phase on plain operations and the
  * second half on traced ones, and reports the ratio of their medians as
  * the tracing overhead. */
object Main {
  private val SetupPasses = 3
  /** Seconds of operations run, untimed, before the timed phase (and at
    * least the workload's `warmupOps`). */
  private val WarmupS = 6.0

  private def arg(args: Array[String], key: String): String = {
    val i = args.indexOf(s"--$key")
    require(i >= 0 && i + 1 < args.length, s"missing --$key")
    args(i + 1)
  }

  private def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def loadAvg(): Double =
    new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).split(" ")(0).toDouble

  /** Seconds the host ran other work on this machine's CPUs (steal time,
    * summed over CPUs): CPU time this run was promised but did not get. */
  private def stealS(): Double =
    new String(Files.readAllBytes(Paths.get("/proc/stat"))).linesIterator.next()
      .split("\\s+")(8).toDouble / 100.0

  private def peakRssMb(): Double =
    new String(Files.readAllBytes(Paths.get("/proc/self/status"))).linesIterator
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  def main(args: Array[String]): Unit = {
    val workload = Workload(arg(args, "workload"))
    val seed = arg(args, "seed").toLong
    val budget = arg(args, "seconds").toDouble
    val traced = arg(args, "trace") == "1"
    val dataDir = arg(args, "data")
    val workDir = Paths.get(arg(args, "work"))
    Files.createDirectories(workDir)
    val load0 = loadAvg()
    val steal0 = stealS()

    val s0 = System.nanoTime()
    val spark = GraftSession.create()
    val sessionS = seconds(s0)
    // process start to a ready session: JVM start, class loading, session
    val bootS = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    val cpus = spark.sparkContext.defaultParallelism
    val probe = if (traced) new Probe else null
    if (traced) spark.sparkContext.addSparkListener(probe)
    val tracer = new Tracer(spark, probe)
    val ctx = new Ctx(spark, tracer, dataDir, workDir, cpus)

    val g0 = System.nanoTime()
    val corpus = Corpus.generate(workload.spec, seed)
    val genS = seconds(g0)
    val w0 = System.nanoTime()
    corpus.write(spark, dataDir, cpus)
    val writeS = seconds(w0)
    val o0 = System.nanoTime()
    workload.prepare(corpus)
    val oracleS = seconds(o0)
    System.gc()

    val setupPasses = (1 to SetupPasses).map { k =>
      if (k > 1) workload.discardSetup(ctx)
      val t0 = System.nanoTime()
      workload.setup(ctx)
      seconds(t0)
    }

    var opIndex = 0
    def cleanState(): Unit = if (workload.freshState) spark.catalog.clearCache()
    /** Wall seconds of each phase, operations and the checks between them. */
    val phaseWall = mutable.ArrayBuffer.empty[Double]
    /** Run operations until they have taken `secs` in total (at least
      * `minOps` of them); returns each one's seconds and outcome. */
    def phase(secs: Double, minOps: Int, traced: Boolean, check: Boolean) = {
      val p0 = System.nanoTime()
      val done = mutable.ArrayBuffer.empty[(Double, Outcome)]
      var spent = 0.0
      while ((spent < secs || done.size < minOps) && done.size < 100000) {
        val i = opIndex
        opIndex += 1
        workload.before(ctx, i)
        val t0 = System.nanoTime()
        val ran =
          try { workload.run(ctx, i, traced); true }
          catch { case e: Exception => e.printStackTrace(); false }
        val dt = seconds(t0)
        val outcome =
          if (!ran) Outcome.Failed
          else if (!check) Outcome(ok = true, 0, 0, 0)
          else
            try workload.verify(ctx, i)
            catch { case e: Exception => e.printStackTrace(); Outcome.Failed }
        cleanState()
        done += ((dt, outcome))
        spent += dt
      }
      phaseWall += seconds(p0)
      done.toSeq
    }

    phase(WarmupS, workload.warmupOps, traced = false, check = false)
    val warmupOps = opIndex
    // every run starts timing from a collected heap, not from wherever the
    // warm-up left the old generation
    System.gc()
    if (traced) probe.resetPeaks()
    val plain = phase(if (traced) budget / 2 else budget, 3, traced = false, check = true)
    val cachePeak = if (traced) (probe.memPeak, probe.diskPeak) else (0L, 0L)
    val tracedOps =
      if (traced) phase(budget / 2, 2, traced = true, check = true) else Seq.empty
    val ops = plain ++ tracedOps
    val load1 = loadAvg()
    val steal1 = stealS()

    val lat = plain.map(_._1)
    val outcomes = ops.map(_._2)
    val failed = outcomes.count(!_.ok)
    val matched = outcomes.map(_.matched).sum.toDouble
    val expected = outcomes.map(_.expected).sum.toDouble
    val returned = outcomes.map(_.returned).sum.toDouble
    val values: Map[String, Double] =
      if (!traced) Map(
        "setup_s" -> (bootS + Stats.median(setupPasses)),
        "docs_per_s" -> corpus.docs / Stats.median(lat),
        "qps" -> 1.0 / Stats.interquartileMean(lat),
        "lat_p50_ms" -> Stats.median(lat) * 1000,
        "lat_p90_ms" -> Stats.quantile(lat, 0.9) * 1000,
        "recall" -> (if (expected == 0) 0.0 else matched / expected),
        "precision" -> (if (returned == 0) 0.0 else matched / returned),
        "peak_rss_mb" -> peakRssMb())
      else Layers.values(tracer, sessionS, cachePeak,
        Stats.median(tracedOps.map(_._1)) / Stats.median(lat)) ++ workload.layerValues(ctx)

    val spans = workDir.resolve("spans.jsonl")
    if (traced) tracer.write(spans)
    val record = Map(
      "workload" -> workload.name, "seed" -> seed, "seconds" -> budget, "trace" -> traced,
      "nproc" -> Runtime.getRuntime.availableProcessors, "spark_task_threads" -> cpus,
      "load1_start" -> load0, "load1_end" -> load1, "cpu_steal_s" -> (steal1 - steal0),
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "spark_version" -> spark.version, "java_version" -> System.getProperty("java.version"),
      "input" -> corpus.describe, "generate_s" -> genS, "write_s" -> writeS, "oracle_s" -> oracleS,
      "boot_s" -> bootS, "session_start_s" -> sessionS, "setup_pass_s" -> setupPasses,
      "warmup_s" -> WarmupS, "warmup_ops" -> warmupOps, "samples" -> lat.size, "traced_samples" -> tracedOps.size,
      "uptime_s" -> ManagementFactory.getRuntimeMXBean.getUptime / 1000.0,
      "phase_wall_s" -> phaseWall,
      "op_s" -> lat, "error_share" -> failed.toDouble / math.max(1, ops.size),
      "spans" -> (if (traced) spans.toString else null))
    println(Json.render(Map("record" -> record)))
    println(Json.render(Map(
      "correct" -> (failed == 0), "attempted" -> ops.size, "failed" -> failed,
      "values" -> values)))
    spark.stop()
  }
}

/** The per-layer metrics of a traced run, from its spans: each value is
  * the median over the calls of that layer, task failures their sum (0
  * where the workload never calls it). */
object Layers {
  /** Layers called through Spark, each with its own counters. */
  val Calls: Seq[String] = Seq(
    "sources.read", "sources.tabkv_write",
    "tfidf.tokenize", "tfidf.term_counts", "tfidf.doc_stats", "tfidf.score", "tfidf.rank",
    "tfidf.bm25_index", "tfidf.search",
    "dedup.signatures", "dedup.pairs", "dedup.components", "dedup.apply")

  /** The work count each layer reports, and its metric name. */
  private val Counted: Seq[(String, String)] = Seq(
    "sources.read" -> "sources.read.rows",
    "sources.tabkv_write" -> "sources.tabkv_write.bytes",
    "tfidf.tokenize" -> "tfidf.tokenize.rows",
    "tfidf.term_counts" -> "tfidf.term_counts.rows",
    "tfidf.doc_stats" -> "tfidf.vocab.rows",
    "tfidf.bm25_index" -> "tfidf.bm25_index.rows",
    "dedup.signatures" -> "dedup.signatures.rows",
    "dedup.pairs" -> "dedup.pairs.rows",
    "dedup.components" -> "dedup.components.rows",
    "dedup.apply" -> "dedup.apply.rows")

  private val BusyLayers: Seq[String] = Calls.filterNot(_ == "tfidf.search")

  def values(tr: Tracer, sessionS: Double, cachePeak: (Long, Long),
      overhead: Double): Map[String, Double] = {
    def med(name: String)(f: Span => Double): Double = Stats.median(tr.byName(name).map(f))
    val busy = BusyLayers.map(l => s"$l.busy_s" -> med(l)(s => (s.endNs - s.startNs) / 1e9))
    val counted = Counted.map { case (l, m) => m -> med(l)(_.rows.toDouble) }
    val counters = Calls.flatMap { l =>
      Seq(
        s"$l.shuffle_bytes" -> med(l)(_.c.shuffleBytes.toDouble),
        s"$l.spill_bytes" -> med(l)(_.c.spillBytes.toDouble),
        s"$l.gc_s" -> med(l)(_.c.gcMs / 1000.0),
        s"$l.fetch_wait_s" -> med(l)(_.c.fetchWaitMs / 1000.0),
        s"$l.task_failures" -> tr.byName(l).map(_.c.failures.toDouble).sum)
    }
    // a query's planning time runs from the call to its first job
    val search = tr.byName("tfidf.search")
    def planMs(s: Span): Double =
      if (s.c.jobs == 0) (s.endNs - s.startNs) / 1e6
      else math.max(0.0, (s.c.firstJobMs - s.startMs).toDouble)
    val searchValues = Seq(
      "tfidf.search.plan_ms" -> Stats.median(search.map(planMs)),
      "tfidf.search.exec_ms" -> Stats.median(search.map(s => (s.endNs - s.startNs) / 1e6 - planMs(s))),
      "tfidf.search.jobs" -> Stats.median(search.map(_.c.jobs.toDouble)),
      "tfidf.search.tasks" -> Stats.median(search.map(_.c.tasks.toDouble)),
      // read from executed plans by `SearchServe.layerValues`
      "tfidf.search.rows_examined" -> 0.0,
      "tfidf.search.rows_returned" -> 0.0,
      "tfidf.search.examined_per_returned" -> 0.0)
    (busy ++ counted ++ counters ++ searchValues ++ Seq(
      "session.start_s" -> sessionS,
      "cache.mem_bytes" -> cachePeak._1.toDouble,
      "cache.disk_bytes" -> cachePeak._2.toDouble,
      "trace.overhead_ratio" -> overhead)).toMap
  }
}
