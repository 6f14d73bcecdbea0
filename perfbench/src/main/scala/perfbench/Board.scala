package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

import graft.QueryDef
import graft.ops.{CorpusOps, CurationOps, DedupOps, EventOps, MultimodalOps,
  ProfileOps, Relational, SimilarityOps, SqlSurface, StoreOps, TextOps}

/** The query-layer probe of a traced run: a fixed subset of the
  * `graft.ops` query board, one query per module, over a generated
  * lakehouse corpus with the session settings of `graft.Bench`. It yields
  * the per-layer `ops.*` metrics. It is not an end-to-end workload: its
  * run-to-run spread on a shared 4-vCPU VM (0.36-0.72 over 10 seeds) is
  * too wide for any bound.
  */
object Board {

  val modules: Seq[(String, Seq[QueryDef])] = Seq(
    "Relational" -> Relational.defs, "EventOps" -> EventOps.defs,
    "TextOps" -> TextOps.defs, "DedupOps" -> DedupOps.defs,
    "SimilarityOps" -> SimilarityOps.defs,
    "MultimodalOps" -> MultimodalOps.defs, "CorpusOps" -> CorpusOps.defs,
    "StoreOps" -> StoreOps.defs, "CurationOps" -> CurationOps.defs,
    "SqlSurface" -> SqlSurface.defs, "ProfileOps" -> ProfileOps.defs)

  /** The board subset: one query from each module, preferring a query
    * the roadmap names as an open performance target (q160) or open
    * write-path regression (q184), else a sub-second query, mostly the
    * module's lowest-numbered one. Sized so that a cold and a traced pass
    * fit one traced run's time budget; that leaves out the named targets
    * that cost seconds even when warm (q251, q171, q113).
    */
  val names: Seq[String] = Seq(
    "q01_scan_filter_project", "q23_sessionize", "q30_text_stats",
    "q44_minhash_lsh_candidates", "q46_cosine_neardup", "q60_multimodal_meta",
    "q36_hash_split", "q184_store_version_diff", "q160_phrase_search",
    "q122_sql_pricing", "q156_profile")

  /** Queries whose job counts are reported one by one. */
  val carried: Seq[String] = Seq("q160_phrase_search",
    "q184_store_version_diff")

  /** (module, query) pairs of the board subset, in a fixed order. */
  def selection: Seq[(String, QueryDef)] = {
    val byName = modules.flatMap { case (m, defs) => defs.map(q => q.name -> (m, q)) }.toMap
    names.map(n => byName.getOrElse(n, sys.error(s"board query $n not registered")))
  }

  /** One executed query: time inside the query function (eager writes,
    * DML, materialization) and time of the final `count`.
    */
  final case class Sample(name: String, buildMs: Double, actionMs: Double,
      rows: Option[Long], error: Option[String]) {
    def totalMs: Double = buildMs + actionMs
  }

  /** Runs the board once untraced (filling the warm state: materialized
    * artifacts, keyed stores, JIT), then once traced, and checks every row
    * count against `expectedPath`. Returns the samples and failed checks.
    */
  def probe(r: Run, tracer: Tracer, expectedPath: String)
      : (Seq[Sample], Seq[String]) = {
    val dir = s"${r.data}/board"
    val expected: Map[String, Long] =
      if (!Files.exists(Paths.get(expectedPath))) Map.empty
      else new ObjectMapper().readTree(Files.readString(Paths.get(expectedPath)))
        .properties().asScala.map(e => e.getKey -> e.getValue.asLong).toMap
    val rnd = new scala.util.Random(r.seed)
    def pass(t: Tracer, tag: String): Seq[Sample] = logPass(tag,
      rnd.shuffle(selection).map { case (m, q) => one(t, m, q, dir) })
    val samples = pass(new Tracer(r.spark, enabled = false), "board warm") ++
      pass(tracer, "board traced")
    val failures = samples.flatMap { s =>
      s.error.map(e => s"${s.name}: $e").orElse(
        if (!expected.get(s.name).exists(s.rows.contains))
          Some(s"${s.name}: rows ${s.rows.getOrElse(-1)} != expected " +
            s"${expected.getOrElse(s.name, -1)}")
        else None)
    }
    (samples, failures)
  }

  /** Per-layer board metrics from the spans of a traced [[probe]]. */
  def layer(spans: Seq[Span], incl: Map[Int, Map[String, Double]])
      : Map[String, Double] = {
    val qSpans = spans.filter(_.name.startsWith("ops."))
    def c(s: Span, k: String) = incl.getOrElse(s.id, Map.empty).getOrElse(k, 0.0)
    def kid(q: Span, n: String) = spans.filter(s => s.parent == q.id && s.name == n)
    val perModule = modules.map(_._1).flatMap { m =>
      val qs = qSpans.filter(_.name == s"ops.$m")
      Seq(
        s"ops.$m.build_ms" -> qs.flatMap(kid(_, "query.build")).map(_.durMs).sum,
        s"ops.$m.action_ms" -> qs.flatMap(kid(_, "query.action")).map(_.durMs).sum,
        s"ops.$m.jobs" -> qs.map(c(_, "jobs")).sum,
        s"ops.$m.scan_bytes" -> qs.map(c(_, "input_bytes")).sum,
        s"ops.$m.shuffle_bytes" -> qs.map(c(_, "shuffle_bytes")).sum)
    }
    val perCarried = carried.map { n =>
      s"q.${n.takeWhile(_ != '_')}.jobs" -> qSpans.filter(_.req == n)
        .map(c(_, "jobs")).sum
    }
    (perModule ++ perCarried ++ Seq(
      "board.fs_read_ops" -> qSpans.map(c(_, "fs_read_ops")).sum,
      "board.fs_write_ops" -> qSpans.map(c(_, "fs_write_ops")).sum)).toMap
  }

  private def logPass(tag: String, samples: Seq[Sample]): Seq[Sample] = {
    Log(s"$tag: " + samples.map(s => f"${s.name.takeWhile(_ != '_')} ${s.totalMs}%.0f")
      .mkString(", ") + " ms")
    samples
  }

  private def one(tracer: Tracer, module: String, q: QueryDef,
      dir: String): Sample = {
    val spark = tracer.spark
    var buildMs, actionMs = 0.0
    try tracer.span(s"ops.$module", q.name) {
      val t0 = System.nanoTime()
      val df = tracer.span("query.build", q.name)(q.build(spark, dir))
      val t1 = System.nanoTime()
      val n = tracer.span("query.action", q.name)(df.count())
      val t2 = System.nanoTime()
      buildMs = (t1 - t0) / 1e6; actionMs = (t2 - t1) / 1e6
      Sample(q.name, buildMs, actionMs, Some(n), None)
    } catch {
      case e: Throwable =>
        Sample(q.name, buildMs, actionMs, None,
          Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}"))
    }
  }
}

/** Names of every per-layer metric. Each traced run reports all of them;
  * a layer its workload never enters reads 0.
  */
object Layers {
  val names: Seq[String] = Seq(
    "registry.run_ms", "registry.jobs", "registry.fs_read_ops",
    "stream.latest_offset_ms", "stream.get_batch_ms",
    "stream.query_planning_ms", "stream.add_batch_ms",
    "stream.wal_commit_ms", "stream.commit_offsets_ms", "stream.batches",
    "stream.rows_in", "stream.corrupt_dropped",
    "normalize.noop_ms", "normalize.executor_cpu_ms", "normalize.input_bytes",
    "store.append_ms", "store.append_wait_ms", "store.append_jobs",
    "store.append_tasks", "store.append_driver_ms", "store.append_fs_read_ops",
    "store.append_fs_write_ops", "store.bytes_written", "store.files_written",
    "store.bytes_per_event", "store.versions", "store.manifest_bytes_last",
    "store.read_ms", "store.read_files_scanned",
    "store.read_where_files_scanned", "store.count_rows_ms") ++
    Board.modules.map(_._1).flatMap(m => Seq("build_ms", "action_ms", "jobs",
      "scan_bytes", "shuffle_bytes").map(k => s"ops.$m.$k")) ++
    Board.carried.map(n => s"q.${n.takeWhile(_ != '_')}.jobs") ++
    Seq("board.fs_read_ops", "board.fs_write_ops", "sql.actions",
      "sql.planning_ms", "trace.spans", "trace.blocking_path_ms",
      "trace.unattributed_ms", "trace.untraced_op_p50_ms",
      "trace.overhead_ms")
  def zeros: Map[String, Double] = names.map(_ -> 0.0).toMap
}
