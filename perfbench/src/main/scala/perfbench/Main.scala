package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

/** What one workload run reports back to `run.py`. */
final case class Result(
    metrics: Map[String, Double],
    attempted: Long,
    failures: Seq[String],
    spans: Seq[Span] = Nil)

/** Harness entry point, launched by `perfbench/run.py` on inputs that
  * `perfbench/gen.py` generated:
  *
  * {{{
  * Main --workload W --seed N --seconds S --trace 0|1 --data DIR
  *      --work DIR --out FILE --gen-seconds G --expected FILE
  *      --trace-out FILE
  * }}}
  *
  * Writes one JSON object to `--out`: the metrics, the attempted count and
  * the list of failed checks. A traced run also writes its spans to
  * `--trace-out`.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val data = a("data")
    val work = a("work")
    val genS = a("gen-seconds").toDouble

    val t0 = System.nanoTime()
    val spark = session(work, traced)
    val sessionS = (System.nanoTime() - t0) / 1e9
    Log(f"session started in $sessionS%.2f s")
    val run = Run(spark, data, work, seconds, traced, seed, genS + sessionS)
    val res = workload match {
      case "ingest_backlog" => Ingest.run(run, Ingest.Backlog, a("expected"))
      case "ingest_trickle" => Ingest.run(run, Ingest.Trickle, a("expected"))
      case other => sys.error(s"unknown workload $other")
    }
    spark.stop()
    write(a("out"), res)
    if (res.spans.nonEmpty) writeSpans(a("trace-out"), res.spans)
  }

  /** The recorded spans, one JSON object each, for offline analysis. */
  private def writeSpans(path: String, spans: Seq[Span]): Unit = {
    val om = new ObjectMapper()
    val self = Tracer.selfMs(spans)
    val arr = spans.map { s =>
      val m = new java.util.LinkedHashMap[String, Any]()
      m.put("id", s.id); m.put("name", s.name); m.put("parent", s.parent)
      m.put("req", s.req); m.put("start_ns", s.start); m.put("end_ns", s.end)
      m.put("self_ms", self(s.id)); m.put("derived", s.derived)
      m.put("counts", new java.util.TreeMap[String, Any](
        s.counts.toMap.map { case (k, v) => k -> (v: Any) }.asJava))
      m
    }
    Files.createDirectories(Paths.get(path).getParent)
    Files.writeString(Paths.get(path), om.writeValueAsString(arr.asJava))
  }

  /** Session settings of `graft.Bench` (warm state), with every path the
    * engine writes kept inside the run's work directory.
    */
  def session(work: String, traced: Boolean): SparkSession = {
    val b = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("graft.state.warm", "1")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/local")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
    val s = (if (traced) b.config("spark.hadoop.fs.file.impl",
      classOf[CountingFileSystem].getName) else b).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def write(path: String, r: Result): Unit = {
    val m = new java.util.LinkedHashMap[String, Any]()
    m.put("attempted", r.attempted)
    m.put("failures", r.failures.asJava)
    m.put("metrics", new java.util.TreeMap[String, Any](
      r.metrics.map { case (k, v) => k -> (v: Any) }.asJava))
    Files.writeString(Paths.get(path),
      new ObjectMapper().writeValueAsString(m))
  }
}

/** Everything a workload needs from the command line. `setupS` holds the
  * set-up time spent before the workload starts (generation + session).
  */
final case class Run(spark: SparkSession, data: String, work: String,
    seconds: Double, traced: Boolean, seed: Long, setupS: Double)

/** Progress lines on stderr (the run's log), with seconds since JVM start. */
object Log {
  def apply(msg: String): Unit = {
    val up = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime
    System.err.println(f"[perfbench ${up / 1e3}%7.2f s] $msg")
  }
}

object Stats {
  /** Percentile by linear interpolation between closest ranks. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val r = p / 100.0 * (s.size - 1)
      val lo = math.floor(r).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }
  def median(xs: Seq[Double]): Double = pct(xs, 50)

  /** Results of `body` run over and over until `seconds` have passed
    * (at least once); the run that crosses the limit is kept.
    */
  def repeatFor[A](seconds: Double)(body: Int => A): Seq[A] = {
    val t0 = System.nanoTime()
    val out = Seq.newBuilder[A]
    var i = 0
    while (i == 0 || (System.nanoTime() - t0) / 1e9 < seconds) {
      out += body(i); i += 1
    }
    out.result()
  }
}
