package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec

/** Task counters of every job run under one job group. */
final class Counters {
  @volatile var jobs = 0L
  @volatile var tasks = 0L
  @volatile var shuffleBytes = 0L
  @volatile var spillBytes = 0L
  @volatile var gcMs = 0L
  @volatile var fetchWaitMs = 0L
  @volatile var failures = 0L
  @volatile var firstJobMs = Long.MaxValue
}

/** Benchmark-side Spark listener: attributes task metrics to the job group
  * that ran them, and follows the block manager's cached RDD blocks to
  * report the peak bytes held in memory and on disk. */
final class Probe extends SparkListener {
  private val groups = new ConcurrentHashMap[String, Counters]()
  private val stageCounters = new ConcurrentHashMap[Int, Counters]()
  private val jobGroup = new ConcurrentHashMap[Int, String]()
  private val endedGroups = ConcurrentHashMap.newKeySet[String]()
  private val blocks = mutable.HashMap.empty[String, (Long, Long)]
  private var memNow, diskNow = 0L
  @volatile var memPeak, diskPeak = 0L

  def counters(group: String): Counters = groups.computeIfAbsent(group, _ => new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    if (g != null) {
      val c = counters(g)
      c.jobs += 1
      c.firstJobMs = math.min(c.firstJobMs, e.time)
      jobGroup.put(e.jobId, g)
      e.stageIds.foreach(stageCounters.put(_, c))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobGroup.remove(e.jobId)).foreach(endedGroups.add)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val c = stageCounters.get(e.stageId)
    if (c != null) {
      c.tasks += 1
      if (e.reason != Success) c.failures += 1
      val m = e.taskMetrics
      if (m != null) {
        c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.diskBytesSpilled
        c.gcMs += m.jvmGCTime
        c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      }
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) synchronized {
      val key = s"${info.blockManagerId.executorId}/${info.blockId.name}"
      blocks.remove(key).foreach { case (m, d) => memNow -= m; diskNow -= d }
      if (info.storageLevel.isValid) {
        blocks(key) = (info.memSize, info.diskSize)
        memNow += info.memSize; diskNow += info.diskSize
      }
      memPeak = math.max(memPeak, memNow)
      diskPeak = math.max(diskPeak, diskNow)
    }
  }

  def resetPeaks(): Unit = synchronized { memPeak = memNow; diskPeak = diskNow }

  /** True once a job of `group` has ended. */
  def ended(group: String): Boolean = endedGroups.contains(group)
}

/** One traced interval: a layer call or a whole operation. */
final case class Span(id: Long, name: String, op: Long, parent: Long,
    startMs: Long, startNs: Long, endNs: Long, rows: Long, c: Counters)

/** Spans and per-call counters for a traced run; a no-op when `probe` is
  * null. Each layer call runs in its own job group and is followed by a
  * one-task barrier job in a fresh group: the listener bus delivers events
  * in order, so once the barrier's end arrives every event of the call has
  * been counted. Spans stay in memory until [[write]]. */
final class Tracer(spark: SparkSession, val probe: Probe) {
  private val ids = new AtomicLong()
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var currentOp = 0L
  private var parent = 0L

  def enabled: Boolean = probe != null

  private def barrier(): Unit = {
    val g = s"barrier-${ids.incrementAndGet()}"
    val sc = spark.sparkContext
    sc.setJobGroup(g, "trace barrier")
    sc.parallelize(Seq(1), 1).count()
    sc.clearJobGroup()
    while (!probe.ended(g)) Thread.sleep(1)
  }

  /** Time `body`, which returns its result and the rows it produced. */
  def layer[T](name: String)(body: => (T, Long)): T = {
    if (!enabled) return body._1
    val id = ids.incrementAndGet()
    val group = s"$name#$id"
    val sc = spark.sparkContext
    val outer = parent
    parent = id
    sc.setJobGroup(group, name)
    val ms = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val (out, rows) =
      try body
      finally { sc.clearJobGroup(); parent = outer }
    val t1 = System.nanoTime()
    barrier()
    spans += Span(id, name, currentOp, outer, ms, t0, t1, rows, probe.counters(group))
    out
  }

  /** Group the layer calls of `body` under one operation span. */
  def op[T](name: String)(body: => T): T = {
    if (!enabled) return body
    val id = ids.incrementAndGet()
    currentOp = id
    parent = id
    val ms = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val out = body
    spans += Span(id, name, id, 0L, ms, t0, System.nanoTime(), 0L, new Counters)
    parent = 0L
    currentOp = 0L
    out
  }

  def byName(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  def write(path: java.nio.file.Path): Unit = {
    val lines = spans.map(s => Json.render(Map(
      "id" -> s.id, "name" -> s.name, "op" -> s.op, "parent" -> s.parent,
      "start_ns" -> s.startNs, "end_ns" -> s.endNs, "rows" -> s.rows,
      "jobs" -> s.c.jobs, "tasks" -> s.c.tasks, "shuffle_bytes" -> s.c.shuffleBytes,
      "spill_bytes" -> s.c.spillBytes, "gc_ms" -> s.c.gcMs,
      "fetch_wait_ms" -> s.c.fetchWaitMs, "task_failures" -> s.c.failures)))
    java.nio.file.Files.write(path, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}

object Plans {
  /** Rows the in-memory scans of an executed plan produced, read from
    * their SQL metrics; descends into adaptive plans and query stages. */
  def scannedCachedRows(plan: SparkPlan): Long = plan match {
    case a: AdaptiveSparkPlanExec => scannedCachedRows(a.executedPlan)
    case s: QueryStageExec => scannedCachedRows(s.plan)
    case r: ReusedExchangeExec => scannedCachedRows(r.child)
    case s: InMemoryTableScanExec => s.metrics("numOutputRows").value
    case p => p.children.map(scannedCachedRows).sum
  }
}

/** Minimal JSON rendering for the result lines and span file. */
object Json {
  def render(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      require(!d.isNaN && !d.isInfinite, s"not a JSON number: $d")
      d.toString
    case f: Float => render(f.toDouble)
    case n: Number => n.toString
    case m: Map[_, _] =>
      m.toSeq.sortBy(_._1.toString)
        .map { case (k, x) => quote(k.toString) + ": " + render(x) }.mkString("{", ", ", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ", ", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'
    sb.toString
  }
}
