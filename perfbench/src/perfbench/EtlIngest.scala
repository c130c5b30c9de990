package perfbench

import java.io.File

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.etl.LogParsers
import graft.sources.Sinks
import graft.streaming.Streams

/** Workload `etl_ingest`: TestLog-ETL's own job, and the only workload that
  * writes. Seeded mozlog batches (one day each, with planted malformed
  * lines and FAIL statuses) go through three public calls per batch:
  *  1. readTextLog → parseMozlog → deadLetter, dead rows to parquet;
  *  2. sessionizeMozlog → Streams.idempotentAppend;
  *  3. parsed events → Sinks.dailyRouter;
  * then one batch id is delivered again and Sinks.compactPartitions runs
  * over the daily store. Micro-batch, exactly-once sink model: the
  * redelivery must add no rows.
  */
object EtlIngest {

  val Batches = 6
  val LinesPerBatch = 60000L

  private def batchDir(ctx: Ctx, b: Int) = new File(ctx.work, s"etl/in/batch_$b").getPath

  /** The batch ids of one pass: every batch once, then one redelivered. */
  def deliveries(seed: Long): Seq[Int] =
    (0 until Batches) :+ ((Gen.mix(seed ^ 0x51ed) >>> 1) % Batches).toInt

  private final case class Timing(parse: Double, append: Double, router: Double)

  /** One batch through the three calls. Traced, the parsed sessions are
    * materialized first so parsing and the sink write time apart. */
  private def batch(ctx: Ctx, b: Int, out: String, req: String): Timing = {
    val spark = ctx.spark
    val tr = ctx.tracer
    def timed(name: String)(f: => Unit): Double = {
      val s = System.nanoTime(); tr.span(name, req)(f); (System.nanoTime() - s) / 1e9
    }
    val lines = LogParsers.readTextLog(spark, batchDir(ctx, b))
    val (ok, dead) = LogParsers.deadLetter(LogParsers.parseMozlog(lines),
      col("action").isNotNull)
    var parse = timed("etl.dead_letter") {
      dead.write.mode("overwrite").parquet(s"$out/dead/batch_id=$b")
    }
    val sessions0 = LogParsers.sessionizeMozlog(ok)
    val sessions =
      if (!ctx.trace) sessions0
      else {
        var m: DataFrame = null
        parse += timed("etl.parse_sessionize") { m = sessions0.localCheckpoint() }
        m
      }
    val append = timed("streaming.idempotent_append") {
      Streams.idempotentAppend(sessions, b.toLong, s"$out/sessions", Seq("source", "test"))
    }
    val router = timed("sources.daily_router") {
      Sinks.dailyRouter(ok.drop("raw").withColumn("ts",
        timestamp_millis(col("time").cast("long"))), s"$out/daily")
    }
    Timing(parse, append, router)
  }

  private def parquetFiles(dir: String): Int = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
    walk(new File(dir)).count(f => f.getName.endsWith(".parquet"))
  }

  private final case class Pass(batchS: Seq[Double], timings: Seq[Timing],
      compactS: Double, filesBefore: Int, filesAfter: Int, lines: Long,
      rawBytes: Long, work: Seq[Work], errors: Seq[String]) {
    /** A pass whose store is wrong fails every delivery it made. */
    def failed: Int = if (errors.isEmpty) 0 else batchS.length
  }

  /** Every delivery plus the compaction, into a fresh output directory;
    * then the checks against the planted counts (untimed). */
  private def pass(ctx: Ctx, n: Int, planted: Seq[Gen.Planted], rawBytes: Seq[Long]): Pass = {
    val spark = ctx.spark
    val sc = spark.sparkContext
    val out = new File(ctx.work, s"etl/out_$n").getPath
    val ds = deliveries(ctx.seed)
    var errors = Vector.empty[String]
    val results = ds.zipWithIndex.map { case (b, i) =>
      val req = s"pass$n-batch$i"
      val w0 = ctx.counters.totals(sc)
      val t0 = System.nanoTime()
      val t = try Some(ctx.tracer.span("etl.batch", req)(batch(ctx, b, out, req)))
      catch { case e: Exception => errors :+= s"batch $b: ${e.getMessage}"; None }
      val s = (System.nanoTime() - t0) / 1e9
      (s, t, ctx.counters.totals(sc) - w0)
    }
    val daily = s"$out/daily"
    val before = parquetFiles(daily)
    val t0 = System.nanoTime()
    try ctx.tracer.span("sources.compact", s"pass$n")(
      Sinks.compactPartitions(spark, daily, "day"))
    catch { case e: Exception => errors :+= s"compact: ${e.getMessage}" }
    val compactS = (System.nanoTime() - t0) / 1e9
    val after = parquetFiles(daily)
    val checks = if (errors.nonEmpty) Nil else check(ctx, out, planted, ds)
    deleteTree(new File(out))
    Pass(results.map(_._1), results.flatMap(_._2), compactS, before, after,
      ds.map(planted(_).lines).sum, ds.map(rawBytes(_)).sum, results.map(_._3),
      errors ++ checks)
  }

  /** The store must hold exactly the planted sessions, fails, dead letters
    * and events, with the redelivered batch counted once. */
  private def check(ctx: Ctx, out: String, planted: Seq[Gen.Planted],
      ds: Seq[Int]): Seq[String] = {
    val spark = ctx.spark
    val sessions = spark.read.parquet(s"$out/sessions")
    val s = sessions.agg(count(lit(1)), coalesce(sum("fail_count"), lit(0L))).head()
    val dead = spark.read.parquet(s"$out/dead").count()
    val events = spark.read.parquet(s"$out/daily").count()
    val again = ds.last
    val againRows = sessions.filter(col("batch_id") === again).count()
    val want = planted.reduce((a, b) => Gen.Planted(a.lines + b.lines,
      a.malformed + b.malformed, a.sessions + b.sessions, a.fails + b.fails))
    Seq(
      (s.getLong(0) == want.sessions) -> s"sessions ${s.getLong(0)} != ${want.sessions}",
      (s.getLong(1) == want.fails) -> s"fail_count sum ${s.getLong(1)} != ${want.fails}",
      (dead == want.malformed) -> s"dead letters $dead != ${want.malformed}",
      (events == want.lines - want.malformed) ->
        s"daily events $events != ${want.lines - want.malformed}",
      (againRows == planted(again).sessions) ->
        s"redelivered batch $again holds $againRows sessions, planted ${planted(again).sessions}"
    ).collect { case (false, msg) => msg }
  }

  private def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }

  def run(ctx: Ctx): Result = {
    val spark = ctx.spark
    ctx.mark("JVM and session")
    (0 until Batches).foreach(b =>
      Gen.writeMozlog(spark, ctx.seed, b, LinesPerBatch, batchDir(ctx, b)))
    val planted = (0 until Batches).map(b => Gen.planted(ctx.seed, b, LinesPerBatch))
    val rawBytes = (0 until Batches).map { b =>
      Option(new File(batchDir(ctx, b)).listFiles()).toSeq.flatten
        .filter(_.getName.startsWith("part-")).map(_.length).sum
    }
    ctx.mark("inputs")
    // warm-up: the first batch and a compaction, cold, into a scratch store
    val untracedCtx = ctx.copy(trace = false, tracer = new Tracer(false))
    val warm = new File(ctx.work, "etl/warm").getPath
    val warmT = batch(untracedCtx, 0, warm, "warm")
    Sinks.compactPartitions(spark, s"$warm/daily", "day")
    deleteTree(new File(warm))
    ctx.ready()

    def passes(c: Ctx, seconds: Double, first: Int): Seq[Pass] = {
      var done = Vector.empty[Pass]
      var spent = 0.0
      while (done.isEmpty || spent < seconds) {
        val p = pass(c, first + done.length, planted, rawBytes)
        spent += p.batchS.sum + p.compactS
        done :+= p
      }
      done
    }
    val notes0 = Seq(s"etl_ingest: $Batches batches x $LinesPerBatch lines, " +
      s"${Main.fmt(rawBytes.sum / 1e6)} MB raw; redelivered batch ${deliveries(ctx.seed).last}; " +
      s"planted ${planted.map(_.malformed).sum} malformed, ${planted.map(_.fails).sum} FAILs, " +
      s"${planted.map(_.sessions).sum} sessions; cold first batch ${Main.fmt(warmT.parse + warmT.append + warmT.router, 2)} s")
    if (!ctx.trace) {
      val ps = passes(untracedCtx, ctx.seconds, 0)
      val batches = ps.flatMap(_.batchS)
      val wall = ps.map(p => p.batchS.sum + p.compactS).sum
      Result(batches.length, ps.map(_.failed).sum,
        Seq("op_p50_ms" -> (Stats.median(batches) * 1000 -> "ms"),
          "items_per_s" -> (ps.map(_.lines).sum / wall -> "1/s")),
        Nil,
        notes0 ++ Seq(s"etl_ingest: ${ps.length} passes, ${batches.length} batch deliveries " +
          s"in ${Main.fmt(wall, 2)} s") ++ ps.flatMap(_.errors).take(5).map("FAIL " + _))
    } else {
      val base = passes(untracedCtx, 0, 0)
      val sc = spark.sparkContext
      val w0 = ctx.counters.totals(sc)
      val t0 = System.nanoTime()
      val ps = passes(ctx, ctx.seconds * 2 / 3, base.length)
      val wall = (System.nanoTime() - t0) / 1e9
      val wAll = ctx.counters.totals(sc) - w0
      val ts = ps.flatMap(_.timings)
      val work = ps.flatMap(_.work).foldLeft(Work())(_ + _)
      val nb = math.max(1, ps.map(_.batchS.length).sum).toDouble
      val cores = Runtime.getRuntime.availableProcessors()
      val self = ctx.tracer.selfMs
      val sinkLayers = Seq("etl.dead_letter", "etl.parse_sessionize",
        "streaming.idempotent_append", "sources.daily_router", "sources.compact")
      val tot = sinkLayers.map(self.getOrElse(_, 0.0)).sum
      val layers = Seq(
        "etl.parse_sessionize_s" -> Stats.median(ts.map(_.parse)),
        "streaming.idempotent_append_s" -> Stats.median(ts.map(_.append)),
        "sources.daily_router_s" -> Stats.median(ts.map(_.router)),
        "sources.compact_s" -> Stats.median(ps.map(_.compactS)),
        "sources.files_before_compact" -> Stats.median(ps.map(_.filesBefore.toDouble)),
        "sources.files_after_compact" -> Stats.median(ps.map(_.filesAfter.toDouble)),
        "sources.write_amp" -> wAll.bytesWritten.toDouble / ps.map(_.rawBytes).sum,
        "etl.dead_letter_share" -> planted.map(_.malformed).sum.toDouble / planted.map(_.lines).sum,
        "spark.jobs_per_op" -> work.jobs / nb,
        "spark.stages_per_op" -> work.stages / nb,
        "spark.tasks_per_op" -> work.tasks / nb,
        "spark.sched_wait_ms" -> work.schedWaitMs / math.max(1L, work.tasks),
        "spark.core_busy_share" -> wAll.runMs / (wall * 1000 * cores),
        "spark.shuffle_write_bytes" -> wAll.shuffleWrite / nb,
        "spark.spill_bytes" -> wAll.spill / nb,
        "trace.uncovered_share" -> ctx.tracer.uncoveredShare("etl.batch"),
        "trace.overhead_share" -> (Stats.median(ps.flatMap(_.batchS)) /
          Stats.median(base.flatMap(_.batchS)) - 1))
      val all = base ++ ps
      Result(all.map(_.batchS.length).sum, all.map(_.failed).sum, Nil, Layers.fill(layers),
        notes0 ++ Seq(
          "etl_ingest blocking time by layer: " + sinkLayers
            .sortBy(l => -self.getOrElse(l, 0.0))
            .map(l => s"$l ${Main.fmt(100 * self.getOrElse(l, 0.0) / tot)}%").mkString(", "),
          s"etl_ingest Spark: task work ${Main.fmt(wAll.runMs / cores / 1000, 2)} s of " +
            s"${Main.fmt(wall, 2)} s wall on $cores cores (${wAll.jobs} jobs, ${wAll.tasks} tasks)") ++
          all.flatMap(_.errors).take(5).map("FAIL " + _))
    }
  }
}
