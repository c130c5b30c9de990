package perfbench

import java.io.File


import com.fasterxml.jackson.databind.ObjectMapper

/** Checks of the benchmark itself, run as the `selftest` workload:
  * generators are pure functions of the seed, the planted counts match
  * the generated files, and the p95 sample-count rule holds. Each check
  * is one attempted operation. */
object SelfTest {

  def run(ctx: Ctx): Result = {
    val spark = ctx.spark
    val seed = ctx.seed
    def dir(n: String) = new File(ctx.work, n).getPath
    def sameFrames(a: String, b: String): Boolean = {
      val x = spark.read.parquet(a); val y = spark.read.parquet(b)
      x.exceptAll(y).isEmpty && y.exceptAll(x).isEmpty
    }
    def lines(d: String): Seq[String] =
      spark.read.text(d).collect().map(_.getString(0)).toSeq.sorted
    ctx.mark("JVM and session")
    val n = 20000L
    Gen.writeTables(spark, seed, dir("t1"))
    Gen.writeTables(spark, seed, dir("t2"))
    Gen.writeTables(spark, seed + 1, dir("t3"))
    Gen.writeMozlog(spark, seed, 3, n, dir("m1"))
    Gen.writeMozlog(spark, seed, 3, n, dir("m2"))
    Gen.writeMozlog(spark, seed + 1, 3, n, dir("m3"))
    Gen.writeCorpus(spark, seed, 2000, dir("c1"))
    Gen.writeCorpus(spark, seed, 2000, dir("c2"))
    Gen.writeCorpus(spark, seed + 1, 2000, dir("c3"))
    ctx.ready()
    val tables = Seq("lineitem", "orders", "events")
    val m1 = lines(dir("m1"))

    // planted mozlog counts, recounted from the written file with a plain
    // JSON parser
    val mapper = new ObjectMapper()
    val parsed = m1.map(l => scala.util.Try(mapper.readTree(l)).toOption)
    val ok = parsed.flatten
    val recount = Gen.Planted(m1.length, parsed.count(_.isEmpty),
      ok.filter(_.has("test")).map(_.get("test").asText()).distinct.length.toLong,
      ok.count(j => j.get("action").asText() == "test_status" &&
        j.get("status").asText() != j.get("expected").asText()).toLong)
    val planted = Gen.planted(seed, 3, n)

    // planted corpus facts, from the written parquet
    val docs = spark.read.parquet(s"${dir("c1")}/corpus.parquet").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    val bench = spark.read.parquet(s"${dir("c1")}/bench.parquet").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    val plants = docs.keys.toSeq.map(id => id -> Gen.plantOf(seed, id))
    val dupsOk = plants.collect { case (id, Gen.DupOf(o)) =>
      docs(id) == docs(o) + " dup" }
    val contamOk = plants.collect { case (id, Gen.Contam(b)) =>
      val bw = bench(b).split(" ")
      bw.sliding(math.min(bw.length, 10)).exists(w => docs(id).contains(w.mkString(" ")))
    }

    // the reported tail quantile has ten samples beyond it
    val r = new java.util.SplittableRandom(seed)
    val tails = Seq(20, 55, 100, 200, 1000).map { n =>
      val sample = Seq.fill(n)(r.nextDouble())
      val q = Stats.quantile(sample, Stats.tailQuantile(n))
      n -> sample.count(_ > q)
    }

    val checks = Seq(
      "tables: same seed gives identical rows" ->
        tables.forall(t => sameFrames(s"${dir("t1")}/$t.parquet", s"${dir("t2")}/$t.parquet")),
      "tables: another seed gives other rows" ->
        tables.forall(t => !sameFrames(s"${dir("t1")}/$t.parquet", s"${dir("t3")}/$t.parquet")),
      "mozlog: same seed gives identical lines" -> (m1 == lines(dir("m2"))),
      "mozlog: another seed gives other lines" -> (m1 != lines(dir("m3"))),
      "corpus: same seed gives identical docs" ->
        Seq("corpus", "bench").forall(t => sameFrames(s"${dir("c1")}/$t.parquet", s"${dir("c2")}/$t.parquet")),
      "corpus: another seed gives other docs" ->
        !sameFrames(s"${dir("c1")}/corpus.parquet", s"${dir("c3")}/corpus.parquet"),
      s"mozlog: planted $planted match the file $recount" -> (planted == recount),
      "mozlog: some lines are malformed and some FAIL" -> (planted.malformed > 0 && planted.fails > 0),
      s"corpus: ${dupsOk.length} planted near-dups are their original plus ' dup'" ->
        (dupsOk.nonEmpty && dupsOk.forall(identity)),
      s"corpus: ${contamOk.length} contaminated docs carry a bench run" ->
        (contamOk.nonEmpty && contamOk.forall(identity)),
      s"tail: (samples, beyond the tail quantile) $tails" -> tails.forall(_._2 >= 10),
      "layers: every per-layer name is declared once" ->
        (Layers.all.map(_._1).distinct.length == Layers.all.length))
    val failed = checks.filterNot(_._2)
    Result(checks.length, failed.length, Nil, Nil,
      checks.map { case (k, v) => s"${if (v) "ok  " else "FAIL"} $k" })
  }
}
