package perfbench

import java.io.File
import java.util.Locale

import org.apache.spark.sql.SparkSession

/** Benchmark entry point: one workload per JVM.
  *
  * `--workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>`
  *
  * Every input is generated from `--seed` under `--work`, the program sees
  * only those generated inputs, and the last stdout line is the result
  * object `{"correct", "attempted", "failed", "metrics"}`. With `--trace 0`
  * the metrics are the end-to-end set; with `--trace 1` the per-layer set.
  * Lines before it are human-readable notes (digests, layer verdicts).
  */
object Main {

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    def need(k: String): String =
      opts.getOrElse(k, { System.err.println(s"missing --$k"); sys.exit(2) })
    val workload = need("workload")
    val runner: Ctx => Result = workload match {
      case "jx_service"    => JxService.run
      case "etl_ingest"    => EtlIngest.run
      case "corpus_curate" => CorpusCurate.run
      case "selftest"      => SelfTest.run
      case other =>
        System.err.println(s"unknown workload: $other"); sys.exit(2)
    }
    val work = new File(need("work")).getAbsoluteFile
    work.mkdirs()
    val trace = need("trace") == "1"
    val spark = session(work)
    val counters = new Counters
    spark.sparkContext.addSparkListener(counters)
    val ctx = Ctx(spark, need("seed").toLong, need("seconds").toDouble, trace,
      work, new Tracer(trace), counters)
    val res = try runner(ctx) finally spark.stop()
    (ctx.setupNote +: res.notes).foreach(n => println(s"# $n"))
    if (trace) ctx.tracer.writeTo(new File(work.getParentFile,
      s"trace-$workload-${ctx.seed}.json"), res.notes)
    val metrics =
      if (trace) res.layers
      else res.e2e ++ Seq(
        "setup_s" -> (ctx.setupSeconds -> "s"),
        "peak_rss_mb" -> (peakRssMb() -> "MB"))
    println(resultJson(res.failed == 0, res.attempted, res.failed, metrics))
  }

  /** The session every workload runs on: `local[nproc]`, shuffle
    * partitions = cores (as graft.Bench builds it), every scratch path
    * under the run's work directory. */
  private def session(work: File): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** VmHWM of this JVM: the resident-set high-water mark. */
  private def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(Double.NaN)
    finally src.close()
  }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)

  def quote(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  private def resultJson(correct: Boolean, attempted: Long, failed: Long,
      metrics: Seq[(String, (Double, String))]): String = {
    val ms = metrics.map { case (k, (v, u)) =>
      s"""${quote(k)}: {"value": ${num(v)}, "unit": ${quote(u)}}"""
    }.mkString(", ")
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$ms}}"""
  }

  def fmt(v: Double, digits: Int = 1): String =
    s"%.${digits}f".formatLocal(Locale.ROOT, v)
}

/** What a workload needs from the harness. `ready()` closes set-up: the
  * time from JVM start to that call is `setup_s`. */
final case class Ctx(spark: SparkSession, seed: Long, seconds: Double,
    trace: Boolean, work: File, tracer: Tracer, counters: Counters) {
  private val jvmStart =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
  private var marks = Vector.empty[(String, Long)]
  /** Close one set-up phase (the first mark also covers JVM and session start). */
  def mark(phase: String): Unit = marks :+= phase -> System.currentTimeMillis()
  def ready(): Unit = mark("warm-up")
  def setupSeconds: Double = (marks.last._2 - jvmStart) / 1000.0
  def setupNote: String = "set-up phases (s): " + marks.zip(jvmStart +: marks.map(_._2))
    .map { case ((n, t), prev) => s"$n ${Main.fmt((t - prev) / 1000.0, 2)}" }.mkString(", ")
}

/** One workload's outcome: operations attempted/failed, the end-to-end and
  * per-layer metrics (name → (value, unit)), and note lines. */
final case class Result(attempted: Long, failed: Long,
    e2e: Seq[(String, (Double, String))],
    layers: Seq[(String, (Double, String))],
    notes: Seq[String])

object Stats {
  /** Linear-interpolated quantile (numpy's default), q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** The highest of the usual tail quantiles that has at least ten of the
    * `n` samples beyond it (0.5 when none has). */
  def tailQuantile(n: Int): Double =
    Seq(0.99, 0.95, 0.9, 0.8, 0.75).find(q => n * (1 - q) >= 10 - 1e-9).getOrElse(0.5)
}

/** Every per-layer metric, in print order, with its unit. A traced run
  * prints all of them; a layer its workload never calls reads 0. */
object Layers {
  val all: Seq[(String, String)] = Seq(
    "service.overhead_ms" -> "ms",
    "jx.compile_ms" -> "ms",
    "sql.analysis_ms" -> "ms",
    "sql.optimization_ms" -> "ms",
    "sql.planning_ms" -> "ms",
    "jx.format_ms" -> "ms",
    "spark.exec_ms" -> "ms",
    "operators.dashboard_ms" -> "ms",
    "spark.rows_read_per_row_returned" -> "ratio",
    "spark.jobs_per_op" -> "count",
    "spark.stages_per_op" -> "count",
    "spark.tasks_per_op" -> "count",
    "spark.sched_wait_ms" -> "ms",
    "spark.core_busy_share" -> "ratio",
    "spark.shuffle_write_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes",
    "etl.parse_sessionize_s" -> "s",
    "streaming.idempotent_append_s" -> "s",
    "sources.daily_router_s" -> "s",
    "sources.compact_s" -> "s",
    "sources.files_before_compact" -> "count",
    "sources.files_after_compact" -> "count",
    "sources.write_amp" -> "ratio",
    "etl.dead_letter_share" -> "ratio",
    "llm.rules_gate_s" -> "s",
    "llm.gate_keep_share" -> "ratio",
    "llm.shingles_s" -> "s",
    "llm.minhash_pairs_s" -> "s",
    "llm.candidate_pairs" -> "count",
    "llm.pair_precision" -> "ratio",
    "llm.cluster_labels_s" -> "s",
    "llm.decontaminate_s" -> "s",
    "llm.pack_s" -> "s",
    "llm.chain_build_s" -> "s",
    "llm.chain_exec_s" -> "s",
    "spark.localcheckpoint_jobs" -> "count",
    "spark.exchanges" -> "count",
    "trace.uncovered_share" -> "ratio",
    "trace.overhead_share" -> "ratio")

  def fill(measured: Seq[(String, Double)]): Seq[(String, (Double, String))] = {
    val m = measured.toMap
    val unknown = m.keySet -- all.map(_._1)
    require(unknown.isEmpty, s"undeclared layer metrics: $unknown")
    all.map { case (n, u) =>
      n -> (m.get(n).filterNot(v => v.isNaN || v.isInfinite).getOrElse(0.0) -> u)
    }
  }
}
