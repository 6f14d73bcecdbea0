package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.engine.{ManifestTableStore, TableStore}

/** One traced interval. Times are epoch nanoseconds on one clock
  * ([[Clock]]) so spans built from engine progress reports (epoch
  * milliseconds) and spans timed here line up. `derived` marks spans whose
  * interval was laid out from reported durations rather than timed.
  */
final class Span(val id: Int, val name: String, var parent: Int,
    val req: String, val start: Long, var end: Long,
    val derived: Boolean = false) {
  /** Counts attributed to this span alone (not its children). */
  val counts: mutable.Map[String, Double] = mutable.HashMap.empty
  def durMs: Double = (end - start) / 1e6
}

object Clock {
  private val baseEpochNs = System.currentTimeMillis() * 1000000L
  private val baseNano = System.nanoTime()
  def now(): Long = baseEpochNs + (System.nanoTime() - baseNano)
  def fromEpochMs(ms: Long): Long = ms * 1000000L
}

/** Filesystem counters: operations from [[CountingFileSystem]], bytes from
  * Hadoop's FileSystem statistics. Both are process-wide, so a span's
  * delta also holds whatever ran concurrently.
  */
object FsStats {
  final case class Snap(readOps: Long, writeOps: Long, bytesRead: Long,
      bytesWritten: Long)
  def snap(): Snap = {
    @annotation.nowarn("cat=deprecation")
    val all = FileSystem.getAllStatistics.asScala
    Snap(CountingFileSystem.readOps.sum, CountingFileSystem.writeOps.sum,
      all.map(_.getBytesRead).sum, all.map(_.getBytesWritten).sum)
  }
}

/** In-memory span recorder plus the Spark listeners that attribute jobs,
  * stages and task metrics to spans. A disabled tracer runs every body
  * directly and records nothing; the end-to-end runs use it disabled.
  *
  * Jobs are attributed through a thread-local Spark property set for the
  * span's duration: Spark copies local properties into every job the
  * thread (or a thread it spawns for the same query) submits.
  */
final class Tracer(val spark: SparkSession, val enabled: Boolean) {
  import Tracer.Prop

  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicInteger(0)
  private val byId = new ConcurrentHashMap[Int, Span]()
  private val stack = new ThreadLocal[List[Int]] {
    override def initialValue(): List[Int] = Nil
  }
  private val listener = new Tracer.JobListener(byId)
  private val sqlListener = new Tracer.SqlListener
  if (enabled) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(sqlListener)
  }

  /** Run `body` as a span named `name`, nested under the thread's current
    * span (or `parent` when given, for work that crosses threads).
    */
  def span[T](name: String, req: String, parent: Int = -1)(body: => T): T = {
    if (!enabled) return body
    val sc = spark.sparkContext
    val p = if (parent >= 0) parent else stack.get.headOption.getOrElse(0)
    val s = new Span(ids.incrementAndGet(), name, p, req, Clock.now(), 0L)
    byId.put(s.id, s)
    val prevProp = sc.getLocalProperty(Prop)
    val prevStack = stack.get
    stack.set(s.id :: prevStack)
    sc.setLocalProperty(Prop, s.id.toString)
    val fs0 = FsStats.snap()
    try body
    finally {
      s.end = Clock.now()
      val fs1 = FsStats.snap()
      s.counts.synchronized {
        s.counts("fs_read_ops") = (fs1.readOps - fs0.readOps).toDouble
        s.counts("fs_write_ops") = (fs1.writeOps - fs0.writeOps).toDouble
        s.counts("fs_bytes_read") = (fs1.bytesRead - fs0.bytesRead).toDouble
        s.counts("fs_bytes_written") =
          (fs1.bytesWritten - fs0.bytesWritten).toDouble
      }
      sc.setLocalProperty(Prop, prevProp)
      stack.set(prevStack)
      spans.add(s)
    }
  }

  /** Record a span whose interval comes from outside (engine-reported
    * durations, or a caller's own clock readings with `derived = false`);
    * returns its id so children can attach to it.
    */
  def record(name: String, req: String, parent: Int, start: Long,
      end: Long, derived: Boolean = true): Int = {
    if (!enabled) return -1
    val s = new Span(ids.incrementAndGet(), name, parent, req, start, end,
      derived)
    byId.put(s.id, s)
    spans.add(s)
    s.id
  }

  /** Spans named `name` that have ended so far. */
  def finishedSpans(name: String): Seq[Span] =
    spans.asScala.filter(_.name == name).toSeq

  /** All spans, after the listener bus has delivered every event. */
  def finish(): Seq[Span] = {
    if (enabled) {
      org.apache.spark.perfbenchshim.ListenerBusShim.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
      spark.listenerManager.unregister(sqlListener)
    }
    spans.asScala.toSeq.sortBy(_.start)
  }

  /** Wall intervals [start, end] (epoch ns) of the Spark jobs each span
    * submitted itself.
    */
  def jobIntervals: Map[Int, Seq[(Long, Long)]] =
    listener.intervals.asScala.map { case (k, v) =>
      k.intValue -> v.synchronized(v.toList) }.toMap

  def sqlActions: Long = sqlListener.actions.get
  def sqlPlanningMs: Double = sqlListener.planningNs.get / 1e6
}

object Tracer {
  val Prop = "perfbench.span"

  final class JobListener(byId: ConcurrentHashMap[Int, Span])
      extends SparkListener {
    private val stageSpan = new ConcurrentHashMap[Integer, Integer]()
    private val jobStart = new ConcurrentHashMap[Integer, (Int, Long)]()
    val intervals =
      new ConcurrentHashMap[Integer, mutable.ArrayBuffer[(Long, Long)]]()

    private def add(span: Int, key: String, v: Double): Unit = {
      val s = byId.get(span)
      if (s != null) s.counts.synchronized {
        s.counts(key) = s.counts.getOrElse(key, 0.0) + v
      }
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties).flatMap(ps => Option(ps.getProperty(Prop)))
      p.map(_.toInt).foreach { span =>
        jobStart.put(e.jobId, (span, Clock.fromEpochMs(e.time)))
        e.stageIds.foreach(st => stageSpan.put(st, span))
        add(span, "jobs", 1)
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach { case (span, t0) =>
        intervals.computeIfAbsent(span,
          _ => mutable.ArrayBuffer.empty[(Long, Long)]).synchronized {
          intervals.get(span) += (t0 -> Clock.fromEpochMs(e.time))
        }
      }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageSpan.get(e.stageInfo.stageId)).foreach(s =>
        add(s.intValue, "stages", 1))

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageSpan.get(e.stageId)).map(_.intValue).foreach { span =>
        val m = e.taskMetrics
        add(span, "tasks", 1)
        if (m != null) {
          add(span, "executor_run_ms", m.executorRunTime.toDouble)
          add(span, "executor_cpu_ms", m.executorCpuTime / 1e6)
          add(span, "input_bytes", m.inputMetrics.bytesRead.toDouble)
          add(span, "output_bytes", m.outputMetrics.bytesWritten.toDouble)
          add(span, "shuffle_bytes",
            (m.shuffleWriteMetrics.bytesWritten +
              m.shuffleReadMetrics.totalBytesRead).toDouble)
        }
      }
  }

  /** Counts successful SQL actions and the analysis/optimization/planning
    * time Spark reports for each.
    */
  final class SqlListener extends QueryExecutionListener {
    val actions = new java.util.concurrent.atomic.AtomicLong()
    val planningNs = new java.util.concurrent.atomic.AtomicLong()
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = {
      actions.incrementAndGet()
      val ms = qe.tracker.phases.values.map(p => p.endTimeMs - p.startTimeMs).sum
      planningNs.addAndGet(ms * 1000000L)
    }
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = ()
  }

  /** Length of the union of `ivs` clipped to [lo, hi]. */
  def covered(ivs: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = ivs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** Self time of every span: its duration minus the part of it that its
    * child spans cover.
    */
  def selfMs(spans: Seq[Span]): Map[Int, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val ivs = kids.getOrElse(s.id, Nil).map(c => (c.start, c.end))
      s.id -> (s.end - s.start - covered(ivs, s.start, s.end)) / 1e6
    }.toMap
  }

  /** Counts of a span and all its descendants. */
  def inclusive(spans: Seq[Span]): Map[Int, Map[String, Double]] = {
    val kids = spans.groupBy(_.parent)
    val memo = mutable.HashMap.empty[Int, Map[String, Double]]
    def go(s: Span): Map[String, Double] = memo.getOrElseUpdate(s.id, {
      val own = s.counts.synchronized(s.counts.toMap)
      kids.getOrElse(s.id, Nil).map(go).foldLeft(own) { (acc, m) =>
        m.foldLeft(acc) { case (a, (k, v)) => a.updated(k, a.getOrElse(k, 0.0) + v) }
      }
    })
    spans.foreach(go)
    memo.toMap
  }
}

/** Delegating [[TableStore]] that records a span around each call the
  * stream runner makes into the silver store.
  *
  * The store serializes appends on its own monitor, and concurrent sources
  * share one store. `append` takes that (reentrant) monitor first and
  * records the wait for it as `store.append_wait`, so the `store.append`
  * span holds only the append itself.
  */
final class TracingStore(val underlying: ManifestTableStore, tracer: Tracer)
    extends TableStore {
  override def append(df: DataFrame, batchId: Long): Unit = {
    val t0 = Clock.now()
    underlying.synchronized {
      tracer.record("store.append_wait", batchId.toString, 0, t0, Clock.now(),
        derived = false)
      tracer.span("store.append", batchId.toString)(
        underlying.append(df, batchId))
    }
  }
  override def read(spark: SparkSession): DataFrame =
    tracer.span("store.read_plan", "read")(underlying.read(spark))
  override def writerBase(spark: SparkSession, writerId: String): Long =
    tracer.span("store.writer_base", writerId)(
      underlying.writerBase(spark, writerId))
}
