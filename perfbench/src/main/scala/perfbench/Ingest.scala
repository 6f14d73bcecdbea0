package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}

import graft.engine.{ManifestTableStore, Normalize, SchemaRegistry,
  SourceSpec, StreamRunner, TableStore}

/** The two ingest workloads: bronze JSON files → governance pass →
  * Structured Streaming (`StreamRunner`) → `Normalize` → silver commits
  * into one `ManifestTableStore`, then a fixed read set over the silver
  * table.
  */
object Ingest {

  /** One ingest workload: which sources stream concurrently and how many
    * files each micro-batch takes.
    */
  final case class Shape(sources: Seq[SourceSpec], maxFilesPerTrigger: Int)
  val Backlog = Shape(Seq(SourceSpec.rapid7, SourceSpec.fortisiem), 4)
  val Trickle = Shape(Seq(SourceSpec.rapid7), 1)

  def topic(spec: SourceSpec): String = s"${spec.name}_assets"

  /** Counts the generator recorded for one bronze tree. */
  final case class Expected(events: Long, corruptFiles: Long,
      distinctUids: Long, probeUid: String, probeRows: Long)
  object Expected {
    def load(path: String): Expected = {
      val n = new ObjectMapper().readTree(Files.readString(Paths.get(path)))
      Expected(n.get("events").asLong, n.get("corrupt_files").asLong,
        n.get("distinct_uids").asLong, n.get("probe_uid").asText,
        n.get("probe_rows").asLong)
    }
  }

  /** One committed micro-batch, from the engine's own progress report. */
  final case class Batch(source: String, id: Long, base: Long,
      startMs: Long, dur: Map[String, Long], rowsIn: Long, corrupt: Long) {
    def triggerMs: Double = dur.getOrElse("triggerExecution", 0L).toDouble
  }

  /** Everything measured in one drain of a bronze tree. */
  final case class Drain(govMs: Double, drainMs: Double, batches: Seq[Batch],
      events: Long, readSetMs: Seq[Double], fullReadMs: Seq[Double],
      countRowsMs: Seq[Double], readFiles: Long,
      whereFiles: Long, attempted: Long, failures: Seq[String],
      store: ManifestTableStore, silver: String) {
    def eventsPerS: Double = events / ((govMs + drainMs) / 1000.0)
  }

  /** Repeats of the silver read set after each drain, the untimed warm-up
    * drain included (so the read path's code is warm before timing).
    */
  private val ReadRepeats = 4

  def run(r: Run, shape: Shape, boardExpected: String): Result = {
    val spark = r.spark
    val off = new Tracer(spark, enabled = false)
    val exp = Expected.load(s"${r.data}/expected.json")
    val warmExp = Expected.load(s"${r.data}/warm/expected.json")

    // Set-up: one untimed drain of a second tree of the timed size, with
    // its read set, warms JIT and Spark's code caches on the same code
    // path as the timed drains.
    val tw = System.nanoTime()
    drain(spark, off, shape, s"${r.data}/warm/bronze", s"${r.work}/warm",
      warmExp, warm = true)
    val setupS = r.setupS + (System.nanoTime() - tw) / 1e9
    Log(f"set-up done: $setupS%.2f s")

    if (!r.traced) {
      val drains = Stats.repeatFor(r.seconds) { i =>
        drain(spark, off, shape, s"${r.data}/bronze", s"${r.work}/d$i", exp)
      }
      val trig = drains.flatMap(_.batches.map(_.triggerMs))
      Result(
        Map(
          "setup_s" -> setupS,
          "throughput_per_s" -> Stats.median(drains.map(_.eventsPerS)),
          "op_p50_ms" -> Stats.pct(trig, 50),
          "op_p90_ms" -> Stats.pct(trig, 90),
          "read_p50_ms" -> Stats.median(drains.flatMap(_.readSetMs))),
        drains.map(_.attempted).sum, drains.flatMap(_.failures))
    } else traced(r, shape, exp, boardExpected)
  }

  /** Per-layer run: the timed drain traced, between two untraced drains
    * (the overhead baseline, bracketing it so warm-up drift cancels),
    * then the Normalize probe and the query-board probe traced.
    */
  private def traced(r: Run, shape: Shape, exp: Expected,
      boardExpected: String): Result = {
    val spark = r.spark
    val off = new Tracer(spark, enabled = false)
    val before = drain(spark, off, shape, s"${r.data}/bronze",
      s"${r.work}/untraced0", exp)
    val tracer = new Tracer(spark, enabled = true)
    val d = drain(spark, tracer, shape, s"${r.data}/bronze",
      s"${r.work}/traced", exp)
    val after = drain(spark, off, shape, s"${r.data}/bronze",
      s"${r.work}/untraced1", exp)
    val baseTrig = (before.batches ++ after.batches).map(_.triggerMs)
    shape.sources.foreach { spec =>
      tracer.span("normalize.noop", spec.name) {
        Normalize(Normalize.readBatch(spark, spec,
          s"${r.data}/bronze/${topic(spec)}"), spec)
          .write.format("noop").mode("overwrite").save()
      }
    }
    val (board, boardFailures) = Board.probe(r, tracer, boardExpected)
    val spans = tracer.finish()
    val jobIv = tracer.jobIntervals
    val incl = Tracer.inclusive(spans)
    val self = Tracer.selfMs(spans)
    def named(n: String) = spans.filter(_.name == n)
    def c(s: Span, k: String) = incl.getOrElse(s.id, Map.empty).getOrElse(k, 0.0)
    def sumC(n: String, k: String) = named(n).map(c(_, k)).sum
    def med(n: String, f: Span => Double) = Stats.median(named(n).map(f))

    def phaseMed(p: String) =
      Stats.median(d.batches.map(_.dur.getOrElse(p, 0L).toDouble))

    // Blocking path of one micro-batch: the self times of its phases and of
    // the store append (and the wait for the store's lock) inside addBatch.
    // The trigger span's own self time is what no phase covers; it is left
    // out here and reported as trace.unattributed_ms.
    val batchSpans = named("stream.batch")
    val pathMs = batchSpans.map { b =>
      descendants(spans, b.id).map(s => self(s.id)).sum
    }
    val appendDriver = named("store.append").map(s =>
      s.durMs - Tracer.covered(jobIv.getOrElse(s.id, Nil), s.start, s.end) / 1e6)
    val committed = d.events.toDouble
    val silverBytes = dataBytes(spark, d.silver)

    val layer = Map(
      "registry.run_ms" -> med("registry.run_once", _.durMs),
      "registry.jobs" -> sumC("registry.run_once", "jobs"),
      "registry.fs_read_ops" -> sumC("registry.run_once", "fs_read_ops"),
      "stream.latest_offset_ms" -> phaseMed("latestOffset"),
      "stream.get_batch_ms" -> phaseMed("getBatch"),
      "stream.query_planning_ms" -> phaseMed("queryPlanning"),
      "stream.add_batch_ms" -> phaseMed("addBatch"),
      "stream.wal_commit_ms" -> phaseMed("walCommit"),
      "stream.commit_offsets_ms" -> phaseMed("commitOffsets"),
      "stream.batches" -> d.batches.size.toDouble,
      "stream.rows_in" -> d.batches.map(_.rowsIn).sum.toDouble,
      "stream.corrupt_dropped" -> d.batches.map(_.corrupt).sum.toDouble,
      "normalize.noop_ms" -> named("normalize.noop").map(_.durMs).sum,
      "normalize.executor_cpu_ms" -> sumC("normalize.noop", "executor_cpu_ms"),
      "normalize.input_bytes" -> sumC("normalize.noop", "input_bytes"),
      "store.append_ms" -> med("store.append", _.durMs),
      "store.append_wait_ms" -> med("store.append_wait", _.durMs),
      "store.append_jobs" -> med("store.append", c(_, "jobs")),
      "store.append_tasks" -> med("store.append", c(_, "tasks")),
      "store.append_driver_ms" -> Stats.median(appendDriver),
      "store.append_fs_read_ops" -> med("store.append", c(_, "fs_read_ops")),
      "store.append_fs_write_ops" -> med("store.append", c(_, "fs_write_ops")),
      "store.bytes_written" -> sumC("store.append", "output_bytes"),
      "store.files_written" -> dataFiles(spark, d.silver).toDouble,
      "store.bytes_per_event" -> (if (committed > 0) silverBytes / committed else 0.0),
      "store.versions" -> d.store.currentVersion(spark).toDouble,
      "store.manifest_bytes_last" -> lastManifestBytes(spark, d.silver).toDouble,
      "store.read_ms" -> Stats.median(d.fullReadMs),
      "store.read_files_scanned" -> d.readFiles.toDouble,
      "store.read_where_files_scanned" -> d.whereFiles.toDouble,
      "store.count_rows_ms" -> Stats.median(d.countRowsMs),
      "sql.actions" -> tracer.sqlActions.toDouble,
      "sql.planning_ms" -> tracer.sqlPlanningMs,
      "trace.spans" -> spans.size.toDouble,
      "trace.blocking_path_ms" -> Stats.median(pathMs),
      "trace.unattributed_ms" -> Stats.median(batchSpans.map(b => self(b.id))),
      "trace.untraced_op_p50_ms" -> Stats.median(baseTrig),
      "trace.overhead_ms" ->
        (Stats.median(d.batches.map(_.triggerMs)) - Stats.median(baseTrig)))
    Result(Layers.zeros ++ layer ++ Board.layer(spans, incl),
      before.attempted + d.attempted + after.attempted + board.size,
      before.failures ++ d.failures ++ after.failures ++ boardFailures, spans)
  }

  private def descendants(spans: Seq[Span], id: Int): Seq[Span] = {
    val kids = spans.filter(_.parent == id)
    kids ++ kids.flatMap(k => descendants(spans, k.id))
  }

  /** Drain `bronze` into a fresh silver table under `dir`, read it back and
    * check it against `exp`.
    */
  def drain(spark: SparkSession, tracer: Tracer, shape: Shape, bronze: String,
      dir: String, exp: Expected, warm: Boolean = false): Drain = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val fs = new HPath(dir).getFileSystem(hconf)
    fs.delete(new HPath(dir), true)
    val silver = s"$dir/silver"
    val raw = new ManifestTableStore(silver, statsColumns = Seq("asset_uid"))
    val store: TableStore =
      if (tracer.enabled) new TracingStore(raw, tracer) else raw
    val failures = Seq.newBuilder[String]

    val t0 = System.nanoTime()
    // Spark samples whole files when multiLine=true, so the registry's
    // default 0.2 sampling ratio over a dozen files can pick none (or only
    // corrupt ones) and fail the pass; infer over every sampled file.
    val outcomes = tracer.span("registry.run_once", "governance") {
      new SchemaRegistry(spark, bronze, s"$dir/schemas",
        SchemaRegistry.Config(samplingRatio = 1.0)).runOnce()
    }
    val t1 = System.nanoTime()
    val queries = shape.sources.map { spec =>
      spec -> StreamRunner.start(spark, spec, s"$bronze/${topic(spec)}",
        s"$dir/checkpoint/${spec.name}", store, Trigger.AvailableNow(),
        Some(shape.maxFilesPerTrigger))
    }
    queries.foreach { case (spec, q) =>
      try q.awaitTermination()
      catch { case e: Exception => failures += s"${spec.name} stream: $e" }
    }
    val t2 = System.nanoTime()
    Log(f"$dir: governance ${(t1 - t0) / 1e9}%.2f s, drain ${(t2 - t1) / 1e9}%.2f s")

    val updated = outcomes.collect { case u: SchemaRegistry.Updated => u.topic }
    if (updated.toSet != shape.sources.map(topic).toSet)
      failures += s"governance outcomes $outcomes"

    val batches = queries.flatMap { case (spec, q) =>
      val base = raw.writerBase(spark, spec.name)
      q.recentProgress.toSeq.filter(_.durationMs.containsKey("addBatch"))
        .map(batch(spec, base, _))
    }
    if (tracer.enabled) deriveBatchSpans(tracer, batches)

    // Fixed read set, repeated: full count, point lookup, metadata count.
    val whereSql = s"asset_uid = '${exp.probeUid}'"
    var readFiles, whereFiles = 0L
    val reads = (1 to ReadRepeats).map { _ =>
      val ta = System.nanoTime()
      val (n, files) = tracer.span("silver.count", "read") {
        countWithFiles(store.read(spark))
      }
      val tb = System.nanoTime()
      val (nw, wfiles) = tracer.span("silver.read_where", "read") {
        countWithFiles(raw.readWhere(spark, whereSql))
      }
      val tc = System.nanoTime()
      val cr = tracer.span("silver.count_rows", "read")(raw.countRows(spark))
      val td = System.nanoTime()
      readFiles = files; whereFiles = wfiles
      if (n != exp.events) failures += s"silver rows $n != ${exp.events}"
      if (nw != exp.probeRows)
        failures += s"point lookup rows $nw != ${exp.probeRows}"
      if (!cr.contains(exp.events))
        failures += s"countRows $cr != ${exp.events}"
      ((td - ta) / 1e6, (tb - ta) / 1e6, (td - tc) / 1e6)
    }

    Log(s"$dir: read set ${reads.map(x => f"${x._1}%.0f").mkString(",")} ms")
    // Output checks (outside every timed interval; the warm-up drain
    // skips the two that cost Spark jobs).
    val silverDf = raw.read(spark)
    val uids = if (warm) exp.distinctUids
      else silverDf.select("asset_uid").distinct().count()
    if (uids != exp.distinctUids)
      failures += s"distinct asset_uid $uids != ${exp.distinctUids}"
    val corrupt = batches.map(_.corrupt).sum
    if (corrupt != exp.corruptFiles)
      failures += s"corrupt_dropped $corrupt != ${exp.corruptFiles}"
    val rowsIn = batches.map(_.rowsIn).sum
    if (rowsIn != exp.events + exp.corruptFiles)
      failures += s"rows_in $rowsIn != ${exp.events + exp.corruptFiles}"
    val expectedPerBatch = batches.map(b => (b.base + b.id) -> (b.rowsIn - b.corrupt))
      .filter(_._2 > 0).toMap
    val perBatch = if (warm) expectedPerBatch
      else silverDf.groupBy("batch_id").count().collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    if (batches.map(b => b.base + b.id).distinct.size != batches.size)
      failures += "a batch id was reported twice"
    if (perBatch != expectedPerBatch)
      failures += s"per-batch silver rows differ from progress: " +
        s"${perBatch.size} committed batch ids vs ${expectedPerBatch.size} expected"

    val fails = failures.result()
    Log(s"$dir: checked, ${fails.size} failures ${fails.mkString("; ")}")
    Drain((t1 - t0) / 1e6, (t2 - t1) / 1e6, batches, exp.events,
      reads.map(_._1), reads.map(_._2), reads.map(_._3),
      readFiles, whereFiles, batches.size + 3L * ReadRepeats, fails, raw,
      silver)
  }

  private def batch(spec: SourceSpec, base: Long,
      p: StreamingQueryProgress): Batch = {
    val obs = Option(p.observedMetrics.get(s"normalize_${spec.name}"))
    def m(k: String) = obs.map(_.getAs[Long](k)).getOrElse(0L)
    Batch(spec.name, p.batchId, base,
      java.time.Instant.parse(p.timestamp).toEpochMilli,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
      m("rows_in"), m("corrupt_dropped"))
  }

  /** Lay each micro-batch's reported phase durations out as spans, in the
    * order the micro-batch engine runs them, and hang the store append
    * (and its lock wait) that ran inside the batch under its addBatch span.
    */
  private def deriveBatchSpans(tracer: Tracer, batches: Seq[Batch]): Unit = {
    val appends = (tracer.finishedSpans("store.append") ++
      tracer.finishedSpans("store.append_wait")).groupBy(_.req.toLong)
    batches.foreach { b =>
      val start = Clock.fromEpochMs(b.startMs)
      val id = tracer.record("stream.batch", s"${b.source}:${b.id}", 0, start,
        start + b.dur.getOrElse("triggerExecution", 0L) * 1000000L)
      var t = start
      Seq("latestOffset", "walCommit", "getBatch", "queryPlanning",
        "addBatch", "commitOffsets").foreach { p =>
        val d = b.dur.getOrElse(p, 0L) * 1000000L
        val pid = tracer.record(s"stream.$p", s"${b.source}:${b.id}", id, t,
          t + d)
        if (p == "addBatch")
          appends.getOrElse(b.base + b.id, Nil).foreach(_.parent = pid)
        t += d
      }
    }
  }

  /** Row count of `df` plus the number of files its scans read. */
  private def countWithFiles(df: DataFrame): (Long, Long) = {
    val agg = df.agg(count(lit(1)))
    val n = agg.collect()(0).getLong(0)
    (n, PlanFiles.files(agg))
  }

  private def dataFiles(spark: SparkSession, silver: String): Long =
    listFiles(spark, s"$silver/data").count(_.getPath.getName.endsWith(".parquet"))

  private def dataBytes(spark: SparkSession, silver: String): Double =
    listFiles(spark, s"$silver/data")
      .filter(_.getPath.getName.endsWith(".parquet")).map(_.getLen).sum.toDouble

  private def lastManifestBytes(spark: SparkSession, silver: String): Long = {
    val vs = listFiles(spark, s"$silver/manifest")
      .filter(_.getPath.getName.matches("v\\d+"))
    if (vs.isEmpty) 0L
    else vs.maxBy(_.getPath.getName.drop(1).toLong).getLen
  }

  private def listFiles(spark: SparkSession, dir: String)
      : Seq[org.apache.hadoop.fs.FileStatus] = {
    val p = new HPath(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return Nil
    val it = fs.listFiles(p, true)
    Iterator.continually(it).takeWhile(_.hasNext).map(_.next()).toSeq
  }
}

/** Files read by the scans of an executed query, from the scan nodes'
  * own "number of files read" metric (adaptive plans included).
  */
object PlanFiles extends AdaptiveSparkPlanHelper {
  def files(df: DataFrame): Long =
    collectWithSubqueries(df.queryExecution.executedPlan) {
      case s: FileSourceScanExec =>
        s.metrics.get("numFiles").map(_.value).getOrElse(0L)
    }.sum
}
