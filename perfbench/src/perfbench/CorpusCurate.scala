package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._

import graft.llm.{CurateSteps, Dedup, Pipeline, TextOps}

/** Workload `corpus_curate`: the heaviest path in the repo. The rules-gated
  * hygiene chain (`Pipeline.corpusHygiene` with `rulesSources`) over a
  * seeded corpus in sf0.1's vocabulary and length mix, with planted
  * near-dups and planted benchmark contamination, against 10 bench docs.
  * Shuffles, `localCheckpoint` jobs and MinHash LSH; few queries, so
  * per-query overhead barely shows here.
  */
object CorpusCurate extends AdaptiveSparkPlanHelper {

  val Docs = 4000L
  private val Threshold = 0.5
  private val MinOverlap = 3

  final case class Chain(seconds: Double, rows: Array[Row])

  /** sha-256 over the packed layout, sorted: equal across reps and runs. */
  def digest(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(_.mkString(",")).sorted.foreach(s => md.update((s + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  /** Pairs of planted near-dup group members, each with whether the
    * chain's MinHash LSH, replayed from its documented spec, links them.
    * A linked pair that both pass the rules gate lands in one cluster, so
    * the pair may keep at most one doc. Generated text is already
    * hygienic, so the replay hashes it as is. */
  def dupPairs(seed: Long): Seq[((Long, Long), Boolean)] =
    (Gen.NBench.toLong until Gen.NBench + Docs).groupBy(Gen.dupRoot(seed, _))
      .values.filter(_.length > 1).toSeq.flatMap { g =>
        val sig = g.map(id => id -> MinHash.of(Gen.docText(seed, id))).toMap
        for (a <- g; b <- g if a < b)
          yield (a, b) -> MinHash.linked(sig(a), sig(b), Threshold)
      }

  /** The planted facts every chain result must show. */
  def check(seed: Long, linked: Seq[(Long, Long)], rows: Array[Row]): Seq[String] = {
    val ids = rows.map(_.getAs[Long]("doc_id")).toSet
    val bench = ids.filter(_ < Gen.NBench)
    val contam = ids.filter(id => Gen.plantOf(seed, id).isInstanceOf[Gen.Contam])
    val twins = linked.filter { case (a, b) => ids(a) && ids(b) }
    Seq(
      ids.nonEmpty -> "no survivors",
      (ids.size == rows.length) -> "a survivor is packed twice",
      bench.isEmpty -> s"bench docs survived: $bench",
      contam.isEmpty -> s"${contam.size} contaminated docs survived, e.g. ${contam.take(3)}",
      twins.isEmpty -> s"${twins.size} linked near-dup pairs both survived, e.g. ${twins.take(3)}"
    ).collect { case (false, msg) => msg }
  }

  /** Failed chains (every chain when the digests differ across reps) and
    * the notes: the digest, then the first failures. */
  private def outcome(seed: Long, linked: Seq[(Long, Long)],
      chains: Seq[Chain]): (Int, Seq[String]) = {
    val errs = chains.map(c => check(seed, linked, c.rows))
    val digests = chains.map(c => digest(c.rows)).distinct
    val failed = if (digests.length > 1) chains.length else errs.count(_.nonEmpty)
    (failed, s"corpus_curate: final_md5 digest ${digests.mkString(",")}" +:
      (errs.flatten.take(5) ++
        (if (digests.length > 1) Seq("digests differ across reps") else Nil)).map("FAIL " + _))
  }

  private def chainOf(corpus: DataFrame, bench: DataFrame): DataFrame =
    Pipeline.corpusHygiene(corpus, bench,
      rulesSources = Some(corpus.select("doc_id", "source")))

  def run(ctx: Ctx): Result = {
    val spark = ctx.spark
    ctx.mark("JVM and session")
    val dir = new File(ctx.work, "corpus").getPath
    Gen.writeCorpus(spark, ctx.seed, Docs, dir)
    val corpus = spark.read.parquet(s"$dir/corpus.parquet")
    val bench = spark.read.parquet(s"$dir/bench.parquet")
    val planted = (Gen.NBench.toLong until Gen.NBench + Docs).map(Gen.plantOf(ctx.seed, _))
    val pairs = dupPairs(ctx.seed)
    val linked = pairs.collect { case (p, true) => p }
    def timedChain(): Chain = {
      val t0 = System.nanoTime()
      val rows = chainOf(corpus, bench).collect()
      Chain((System.nanoTime() - t0) / 1e9, rows)
    }
    ctx.mark("inputs")
    // warm-up: one cold chain
    val warm = timedChain()
    ctx.ready()

    def loop(seconds: Double, body: () => Chain): Seq[Chain] = {
      var done = Vector.empty[Chain]
      while (done.isEmpty || done.map(_.seconds).sum < seconds) done :+= body()
      done
    }
    val notes0 = Seq(s"corpus_curate: $Docs docs + ${Gen.NBench} bench docs; planted " +
      s"${planted.count(_.isInstanceOf[Gen.DupOf])} near-dups, " +
      s"${planted.count(_.isInstanceOf[Gen.Contam])} contaminated; ${pairs.length - linked.length} " +
      s"of ${pairs.length} planted near-dup pairs share no MinHash band; cold chain " +
      s"${Main.fmt(warm.seconds, 2)} s, ${warm.rows.length} survivors")
    if (!ctx.trace) {
      val chains = loop(ctx.seconds, () => timedChain())
      val (failed, checked) = outcome(ctx.seed, linked, chains :+ warm)
      val wall = chains.map(_.seconds).sum
      Result(chains.length + 1, failed,
        Seq("op_p50_ms" -> (Stats.median(chains.map(_.seconds)) * 1000 -> "ms"),
          "items_per_s" -> (Docs * chains.length / wall -> "1/s")),
        Nil,
        notes0 ++ Seq(s"corpus_curate: ${chains.length} chains in ${Main.fmt(wall, 2)} s") ++
          checked)
    } else traced(ctx, corpus, bench, linked, warm,
      loop(ctx.seconds / 3, () => timedChain()), notes0)
  }

  private final case class Step(name: String, seconds: Double)
  private final case class Traced(steps: Seq[Step], kept: Long, candidates: Long,
      good: Long, buildS: Double, execS: Double, buildJobs: Long, exchanges: Int,
      chain: Chain, work: Work, planningMs: Double)

  /** The chain step by step (each step forced and timed on its own, in the
    * order corpusSurvivors composes them), then the real call with its
    * eager build apart from its execution. */
  private def tracedChain(ctx: Ctx, corpus: DataFrame, bench: DataFrame,
      req: String): Traced = {
    val sc = ctx.spark.sparkContext
    val tr = ctx.tracer
    var steps = Vector.empty[Step]
    def step[T](name: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val v = tr.span(name, req)(f)
      steps :+= Step(name, (System.nanoTime() - t0) / 1e9)
      v
    }
    val (kept, candidates, good) = tr.span("llm.steps", req) {
      val hyg = corpus.select(col("doc_id"), CurateSteps.hygienicText(col("text")).as("text"))
      val hygB = bench.select(col("doc_id"), CurateSteps.hygienicText(col("text")).as("text"))
      val keep = step("llm.rules_gate") {
        CurateSteps.ruleVerdictsOf(hyg.join(corpus.select("doc_id", "source"), Seq("doc_id")))
          .filter(col("keep")).select("doc_id").localCheckpoint()
      }
      val gated = keep.join(hyg, Seq("doc_id"))
      val sh = step("llm.shingles")(Dedup.shinglesOf(gated.unionByName(hygB)).localCheckpoint())
      val benchIds = hygB.select("doc_id")
      val corpusSh = sh.join(broadcast(benchIds), Seq("doc_id"), "left_anti")
      val benchSh = sh.join(broadcast(benchIds), Seq("doc_id"), "left_semi")
      val pairs = step("llm.minhash_pairs")(Dedup.minhashScoredPairsFrom(corpusSh).localCheckpoint())
      val good = pairs.filter(col("jaccard") >= Threshold)
      val labels = step("llm.cluster_labels")(Dedup.clusterLabelsFrom(good).localCheckpoint())
      val contaminated = step("llm.decontaminate")(
        Dedup.decontaminateSh(corpusSh, benchSh, MinOverlap).select("doc_id").localCheckpoint())
      val survivors = step("llm.survivors")(gated
        .join(labels.filter(col("id") =!= col("lbl")).select(col("id").as("doc_id")),
          Seq("doc_id"), "left_anti")
        .join(contaminated, Seq("doc_id"), "left_anti").localCheckpoint())
      step("llm.pack")(TextOps.packChunks(survivors, 2048L, 8L).collect())
      (keep.count(), pairs.count(), good.count())
    }
    val w0 = ctx.counters.totals(sc)
    val t0 = System.nanoTime()
    var df: DataFrame = null
    var buildS = 0.0
    var buildJobs = 0L
    val rows = tr.span("llm.chain", req) {
      df = tr.span("llm.chain_build", req)(chainOf(corpus, bench))
      buildS = (System.nanoTime() - t0) / 1e9
      buildJobs = ctx.counters.totals(sc).jobs - w0.jobs
      tr.span("llm.chain_exec", req)(df.collect())
    }
    val t2 = System.nanoTime()
    val work = ctx.counters.totals(sc) - w0
    val exchanges = collectWithSubqueries(df.queryExecution.executedPlan) {
      case e: Exchange => e }.length
    val ph = df.queryExecution.tracker.phases.values.map(_.durationMs).sum.toDouble
    val wallS = (t2 - t0) / 1e9
    Traced(steps, kept, candidates, good, buildS, wallS - buildS, buildJobs,
      exchanges, Chain(wallS, rows), work, ph)
  }

  private def traced(ctx: Ctx, corpus: DataFrame, bench: DataFrame,
      linked: Seq[(Long, Long)], warm: Chain, base: Seq[Chain],
      notes0: Seq[String]): Result = {
    var ts = Vector.empty[Traced]
    val t0 = System.nanoTime()
    while (ts.isEmpty || (System.nanoTime() - t0) / 1e9 < ctx.seconds * 2 / 3)
      ts :+= tracedChain(ctx, corpus, bench, s"chain${ts.length}")
    val chains = (warm +: base) ++ ts.map(_.chain)
    val (failed, checked) = outcome(ctx.seed, linked, chains)
    def stepMed(n: String) = Stats.median(ts.flatMap(_.steps.filter(_.name == n).map(_.seconds)))
    val work = ts.map(_.work).foldLeft(Work())(_ + _)
    val n = ts.length.toDouble
    val cores = Runtime.getRuntime.availableProcessors()
    val wall = ts.map(_.chain.seconds).sum
    val taskWork = work.runMs / cores / 1000
    val planning = ts.map(_.planningMs).sum / 1000
    val layers = Seq(
      "llm.rules_gate_s" -> stepMed("llm.rules_gate"),
      "llm.gate_keep_share" -> ts.map(_.kept).sum.toDouble / (Docs * n),
      "llm.shingles_s" -> stepMed("llm.shingles"),
      "llm.minhash_pairs_s" -> stepMed("llm.minhash_pairs"),
      "llm.candidate_pairs" -> Stats.median(ts.map(_.candidates.toDouble)),
      "llm.pair_precision" -> ts.map(_.good).sum.toDouble / math.max(1L, ts.map(_.candidates).sum),
      "llm.cluster_labels_s" -> stepMed("llm.cluster_labels"),
      "llm.decontaminate_s" -> stepMed("llm.decontaminate"),
      "llm.pack_s" -> stepMed("llm.pack"),
      "llm.chain_build_s" -> Stats.median(ts.map(_.buildS)),
      "llm.chain_exec_s" -> Stats.median(ts.map(_.execS)),
      "spark.localcheckpoint_jobs" -> Stats.median(ts.map(_.buildJobs.toDouble)),
      "spark.exchanges" -> Stats.median(ts.map(_.exchanges.toDouble)),
      "spark.jobs_per_op" -> work.jobs / n,
      "spark.stages_per_op" -> work.stages / n,
      "spark.tasks_per_op" -> work.tasks / n,
      "spark.sched_wait_ms" -> work.schedWaitMs / math.max(1L, work.tasks),
      "spark.core_busy_share" -> work.runMs / (wall * 1000 * cores),
      "spark.shuffle_write_bytes" -> work.shuffleWrite / n,
      "spark.spill_bytes" -> work.spill / n,
      "trace.uncovered_share" -> ctx.tracer.uncoveredShare("llm.steps"),
      "trace.overhead_share" -> (Stats.median(ts.map(_.chain.seconds)) /
        Stats.median(base.map(_.seconds)) - 1))
    val stepNames = Seq("llm.rules_gate", "llm.shingles", "llm.minhash_pairs",
      "llm.cluster_labels", "llm.decontaminate", "llm.survivors", "llm.pack")
    val stepTot = stepNames.map(stepMed).sum
    Result(chains.length, failed, Nil, Layers.fill(layers),
      notes0 ++ Seq(
        "corpus_curate blocking time by step: " + stepNames.sortBy(s => -stepMed(s))
          .map(s => s"$s ${Main.fmt(100 * stepMed(s) / stepTot)}%").mkString(", "),
        s"corpus_curate chain wall ${Main.fmt(wall, 2)} s over ${ts.length} chains: task work " +
          s"${Main.fmt(100 * taskWork / wall)}% (Σ executor run time / $cores cores), " +
          s"final-plan planning ${Main.fmt(100 * planning / wall)}%, job scheduling and " +
          s"other non-task work ${Main.fmt(100 * (wall - taskWork - planning) / wall)}%; " +
          s"${Main.fmt(work.jobs / n)} jobs per chain, " +
          s"${Main.fmt(Stats.median(ts.map(_.buildJobs.toDouble)))} of them inside the call") ++
        checked)
  }
}

/** The chain's near-dup detector replayed from its documented spec
  * (`Dedup.shinglesOf` and `Dedup.minhashBandsFromShingles`): 3-word
  * shingles hashed by the first 15 hex digits of their md5, 8 hashes
  * ((2k+1)·x + 104729·(k+1)) mod (2^31 − 1) in 4 bands of 2. Two docs are
  * linked when a band matches and their shingle Jaccard reaches the
  * threshold. */
object MinHash {
  private val M = 2147483647L
  final case class Sig(shingles: Set[Long], bands: Seq[(Long, Long)])

  def of(text: String): Sig = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hs = text.split(" ").sliding(3).filter(_.length == 3).map { w =>
      val hex = md.digest(w.mkString(" ").getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 15), 16)
    }.toSet
    val sig = (0 until 8).map(k => hs.map(h =>
      Math.floorMod((2 * k + 1) * Math.floorMod(h, M) + 104729L * (k + 1), M)).min)
    Sig(hs, (0 until 4).map(b => (sig(2 * b), sig(2 * b + 1))))
  }

  def linked(a: Sig, b: Sig, threshold: Double): Boolean =
    a.bands.zip(b.bands).exists { case (x, y) => x == y } &&
      (a.shingles & b.shingles).size.toDouble / (a.shingles | b.shingles).size >= threshold
}
