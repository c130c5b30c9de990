package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.util.concurrent.{ConcurrentLinkedQueue, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.DataFrame

/** Workload `jx_service`: the ActiveData user's path. `QueryService` runs
  * over generated sf0.1-shaped tables with `/dashboard` live; a closed loop
  * of `nproc` HTTP clients (the service pool's size) posts seeded queries
  * drawn from six parameterised templates. Every answer is checked against
  * an evaluation over the generator's own rows, never through graft.jx.
  */
object JxService {

  private val mapper = new ObjectMapper()

  /** One request: endpoint, body, the in-process formatter the traced
    * replay uses, and the check of a response body. */
  final case class Query(template: String, path: String, body: String,
      format: DataFrame => String, check: JsonNode => Option[String])

  final case class Done(q: Query, client: Int, k: Long, startNs: Long,
      endNs: Long, status: Int, body: String) {
    def ms: Double = (endNs - startNs) / 1e6
  }

  // ------------------------------------------------------------ oracle data

  /** Columns of the generated tables, for the checks. */
  final class Data(seed: Long) {
    val liQty = new Array[Int](Gen.NLineItem)
    val liPrice = new Array[Double](Gen.NLineItem)
    val liFlag = new Array[Byte](Gen.NLineItem)
    (0 until Gen.NLineItem).foreach { i =>
      val r = Gen.lineItem(seed, i)
      liQty(i) = r.l_quantity.toInt
      liPrice(i) = r.l_extendedprice
      liFlag(i) = Gen.Flags.indexOf(r.l_returnflag).toByte
    }
    val oKey = new Array[Long](Gen.NOrders)
    val oCust = new Array[Long](Gen.NOrders)
    val oPrice = new Array[Double](Gen.NOrders)
    (0 until Gen.NOrders).foreach { i =>
      val r = Gen.order(seed, i)
      oKey(i) = r.o_orderkey; oCust(i) = r.o_custkey; oPrice(i) = r.o_totalprice
    }
    val eUser = new Array[Long](Gen.NEvents)
    val eType = new Array[Byte](Gen.NEvents)
    val eValue = new Array[Double](Gen.NEvents)
    val eDay = new Array[Int](Gen.NEvents)
    (0 until Gen.NEvents).foreach { i =>
      val r = Gen.event(seed, i)
      eUser(i) = r.user_id
      eType(i) = Gen.EventTypes.indexOf(r.event_type).toByte
      eValue(i) = r.value
      eDay(i) = ((r.ts.getTime - Gen.Epoch2024) / 86400000L).toInt
    }
  }

  // ------------------------------------------------------------ responses

  /** Any of the three jx response formats as rows of (column → value). */
  def rowsOf(body: JsonNode): Seq[Map[String, JsonNode]] =
    body.get("meta").get("format").asText() match {
      case "list" => body.get("data").elements().asScala.map { o =>
        o.fields().asScala.map(e => e.getKey -> e.getValue).toMap }.toSeq
      case "table" =>
        val header = body.get("header").elements().asScala.map(_.asText()).toSeq
        body.get("data").elements().asScala.map { r =>
          header.zip(r.elements().asScala.toSeq).toMap }.toSeq
      case "cube" =>
        val edges = body.get("edges").elements().asScala.map { e =>
          e.get("name").asText() ->
            e.get("domain").get("partitions").elements().asScala
              .map(_.get("value")).toSeq
        }.toSeq
        val aggs = body.get("data").fields().asScala.map(e => e.getKey -> e.getValue).toSeq
        def cells(dim: Int, coords: List[Int]): Seq[List[Int]] =
          if (dim == edges.length) Seq(coords.reverse)
          else edges(dim)._2.indices.flatMap(i => cells(dim + 1, i :: coords))
        cells(0, Nil).map { cs =>
          val ev = edges.zip(cs).map { case ((n, parts), i) => n -> parts(i) }
          val av = aggs.map { case (n, arr) => n -> cs.foldLeft(arr)((a, i) => a.get(i)) }
          (ev ++ av).toMap
        }
      case other => sys.error(s"unknown format $other")
    }

  private def isNull(n: JsonNode): Boolean = n == null || n.isNull
  private def close(a: Double, b: Double): Boolean =
    math.abs(a - b) <= 1e-6 * math.max(1.0, math.abs(b))

  // ------------------------------------------------------------ templates

  val Templates: Seq[String] =
    Seq("groupby", "edges", "range", "sort_limit", "window", "dashboard")

  /** The k-th request of one client's stream. */
  def query(data: Data, seed: Long, stream: Long, k: Long): Query = {
    val r = Gen.rng(seed, 500 + stream, k)
    def pick[T](xs: Seq[T]): T = xs(r.nextInt(xs.length))
    val fmtAll = Seq("list", "table", "cube")
    // templates rotate per client so every run holds the same mix
    Templates(((k + stream) % Templates.length).toInt) match {
      case "groupby" =>
        val q = r.nextInt(1, 51); val p = r.nextInt(0, 60000); val f = pick(Seq("list", "table"))
        val body = s"""{"from": "lineitem", "where": {"and": [{"gte": ["l_quantity", $q]}, {"gte": ["l_extendedprice", $p]}]}, "groupby": "l_returnflag", "select": [{"name": "n", "value": ".", "aggregate": "count"}, {"name": "qty", "value": "l_quantity", "aggregate": "sum"}, {"name": "price", "value": "l_extendedprice", "aggregate": "sum"}], "sort": "l_returnflag", "format": "$f"}"""
        val n = new Array[Long](3); val sq = new Array[Double](3); val sp = new Array[Double](3)
        lazy val expect = {
          var i = 0
          while (i < data.liQty.length) {
            if (data.liQty(i) >= q && data.liPrice(i) >= p) {
              val g = data.liFlag(i); n(g) += 1; sq(g) += data.liQty(i); sp(g) += data.liPrice(i)
            }
            i += 1
          }
          Gen.Flags.indices.filter(n(_) > 0).map(g => (Gen.Flags(g), n(g), sq(g), sp(g)))
        }
        Query("groupby", "/query", body, df => fmtOf(f, df, Nil, Nil), js => {
          val got = rowsOf(js).map(m => (m("l_returnflag").asText(), m("n").asLong(),
            m("qty").asDouble(), m("price").asDouble()))
          val ok = got.length == expect.length && got.zip(expect).forall { case (a, b) =>
            a._1 == b._1 && a._2 == b._2 && close(a._3, b._3) && close(a._4, b._4) }
          if (ok) None else Some(s"groupby q=$q p=$p: got $got want $expect")
        })

      case "edges" =>
        val v = r.nextInt(0, 190); val f = pick(fmtAll)
        val body = s"""{"from": "events", "where": {"gte": ["value", $v]}, "edges": ["event_type"], "select": [{"name": "n", "value": ".", "aggregate": "count"}, {"name": "total", "value": "value", "aggregate": "sum"}], "format": "$f"}"""
        lazy val expect = {
          val n = new Array[Long](5); val s = new Array[Double](5)
          data.eValue.indices.foreach { i =>
            if (data.eValue(i) >= v) { n(data.eType(i)) += 1; s(data.eType(i)) += data.eValue(i) } }
          Gen.EventTypes.indices.filter(n(_) > 0).map(t => Gen.EventTypes(t) -> (n(t), s(t))).toMap
        }
        Query("edges", "/query", body,
          df => fmtOf(f, df, Seq("event_type" -> "set"), Seq("n", "total")), js => {
          val rows = rowsOf(js)
          val bad = rows.flatMap { m =>
            val t = m("event_type")
            if (isNull(t)) (if (m("n").asLong() == 0L) None else Some(s"null part n=${m("n")}"))
            else expect.get(t.asText()) match {
              case Some((n, s)) if m("n").asLong() == n && close(m("total").asDouble(), s) => None
              case e => Some(s"${t.asText()}: got ${m("n")}/${m("total")} want $e")
            }
          }
          val seen = rows.map(_("event_type")).filterNot(isNull).map(_.asText()).toSet
          val missing = expect.keySet -- seen
          if (bad.isEmpty && missing.isEmpty) None
          else Some(s"edges v=$v: ${bad.mkString("; ")} missing=$missing")
        })

      case "range" =>
        val interval = pick(Seq(5, 10, 20, 25)); val m = interval * r.nextInt(4, 11)
        val u = r.nextInt(100, Gen.NUsers + 1); val f = pick(fmtAll)
        val body = s"""{"from": "events", "where": {"lte": ["user_id", $u]}, "edges": [{"name": "bin", "value": "value", "domain": {"type": "range", "min": 0, "max": $m, "interval": $interval}}], "select": [{"name": "n", "value": ".", "aggregate": "count"}], "format": "$f"}"""
        lazy val expect = {
          val n = new Array[Long](m / interval)
          data.eValue.indices.foreach { i =>
            val x = data.eValue(i)
            if (data.eUser(i) <= u && x >= 0 && x < m) n((x / interval).toInt) += 1 }
          n.indices.map(b => (b * interval).toDouble -> n(b)).toMap
        }
        Query("range", "/query", body,
          df => fmtOf(f, df, Seq("bin" -> "range"), Seq("n")), js => {
          val got = rowsOf(js).filterNot(m => isNull(m("bin")))
            .map(m => m("bin").asDouble() -> m("n").asLong()).toMap
          if (got == expect) None else Some(s"range u=$u m=$m i=$interval: got $got want $expect")
        })

      case "sort_limit" =>
        val p = r.nextInt(1000, 450000); val lim = r.nextInt(10, 1001); val f = pick(Seq("list", "table"))
        val body = s"""{"from": "orders", "where": {"gte": ["o_totalprice", $p]}, "select": ["o_orderkey", "o_custkey", "o_totalprice"], "sort": [{"value": "o_totalprice", "sort": "desc"}, "o_orderkey"], "limit": $lim, "format": "$f"}"""
        lazy val expect = data.oPrice.indices.filter(data.oPrice(_) >= p)
          .sortBy(i => (-data.oPrice(i), data.oKey(i))).take(lim)
          .map(i => (data.oKey(i), data.oCust(i), data.oPrice(i)))
        Query("sort_limit", "/query", body, df => fmtOf(f, df, Nil, Nil), js => {
          val got = rowsOf(js).map(m => (m("o_orderkey").asLong(), m("o_custkey").asLong(),
            m("o_totalprice").asDouble()))
          if (got == expect) None
          else Some(s"sort_limit p=$p lim=$lim: ${got.length} rows vs ${expect.length}, first diff " +
            got.zip(expect).find(x => x._1 != x._2))
        })

      case "window" =>
        val u = r.nextInt(1, Gen.NUsers + 1)
        val body = s"""{"from": "events", "where": {"eq": ["user_id", $u]}, "window": [{"name": "run3", "value": "value", "aggregate": "sum", "edges": ["user_id"], "sort": ["event_id"], "range": {"min": -2, "max": 0}}], "sort": "event_id", "format": "list"}"""
        lazy val expect = {
          val ids = data.eUser.indices.filter(data.eUser(_) == u)
          ids.indices.map { k =>
            ids(k).toLong -> (math.max(0, k - 2) to k).map(j => data.eValue(ids(j))).sum }
        }
        Query("window", "/query", body, df => fmtOf("list", df, Nil, Nil), js => {
          val got = rowsOf(js).map(m => m("event_id").asLong() -> m("run3").asDouble())
          val ok = got.length == expect.length && got.zip(expect).forall { case (a, b) =>
            a._1 == b._1 && close(a._2, b._2) }
          if (ok) None else Some(s"window u=$u: got ${got.take(3)}.. want ${expect.take(3)}..")
        })

      case "dashboard" =>
        val d0 = r.nextInt(0, Gen.EventDays); val d1 = r.nextInt(d0, Gen.EventDays)
        val f = pick(fmtAll)
        def day(d: Int) = f"2024-01-${d + 1}%02d"
        val body = s"""{"from_day": "${day(d0)}", "to_day": "${day(d1)}", "format": "$f"}"""
        lazy val expect = Gen.EventTypes.indices.map { t =>
          val idx = data.eType.indices.filter(i =>
            data.eType(i) == t && data.eDay(i) >= d0 && data.eDay(i) <= d1)
          val vals = idx.map(data.eValue(_)).sorted
          val users = idx.map(data.eUser(_)).distinct.length
          Gen.EventTypes(t) -> (idx.length.toLong, users,
            Stats.quantile(vals, 0.45), Stats.quantile(vals, 0.55))
        }.filter(_._2._1 > 0).toMap
        Query("dashboard", "/dashboard", body, df => fmtOf(f, df,
          Seq("event_type" -> "set"), Seq("n", "users_est", "p50_est")), js => {
          val rows = rowsOf(js).filterNot(m => isNull(m("event_type")))
          val bad = rows.flatMap { m =>
            expect.get(m("event_type").asText()) match {
              case Some((n, users, lo, hi)) =>
                val ue = m("users_est").asLong(); val p50 = m("p50_est").asDouble()
                if (m("n").asLong() != n) Some(s"n ${m("n")} != $n")
                else if (math.abs(ue - users) > math.max(1.0, 0.05 * users)) Some(s"users $ue vs $users")
                else if (p50 < lo - 0.01 || p50 > hi + 0.01) Some(s"p50 $p50 not in [$lo, $hi]")
                else None
              case None => Some(s"unexpected type ${m("event_type")}")
            }
          }
          if (bad.isEmpty && rows.length == expect.size) None
          else Some(s"dashboard $body: ${bad.mkString("; ")} rows=${rows.length}/${expect.size}")
        })
    }
  }

  /** The formatting layer alone, as the service dispatches it. */
  private def fmtOf(f: String, df: DataFrame, edges: Seq[(String, String)],
      aggs: Seq[String]): String = f match {
    case "list" => graft.jx.Jx.listJson(df)
    case "table" => graft.jx.Jx.tableJson(df)
    case "cube" => graft.jx.Jx.cubeJsonWithDomains(df, edges, aggs)
  }

  // ------------------------------------------------------------ the loop

  /** One POST; a request that fails in transport reads as status 0. */
  private def send(c: HttpClient, port: Int, q: Query): (Int, String) =
    try {
      val r = c.send(HttpRequest.newBuilder(URI.create(s"http://localhost:$port${q.path}"))
          .POST(HttpRequest.BodyPublishers.ofString(q.body)).build(),
        HttpResponse.BodyHandlers.ofString())
      (r.statusCode(), r.body())
    } catch { case e: java.io.IOException => (0, e.toString) }

  /** Closed loop: `clients` threads, each sending its next request when
    * the previous one answered, until `seconds` have passed and at least
    * `minRequests` answered. `each` runs after every response (the traced
    * replay). Returns the completed requests and the loop's wall, s. */
  private def closedLoop(clients: Int, port: Int, seconds: Double,
      minRequests: Int, next: (Int, Long) => Query,
      each: (Int, Long, Query) => Unit): (Seq[Done], Double) = {
    val done = new ConcurrentLinkedQueue[Done]()
    val count = new AtomicInteger(0)
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    val pool = Executors.newFixedThreadPool(clients)
    val futures = (0 until clients).map { c =>
      pool.submit(new Runnable {
        def run(): Unit = {
          val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
          var k = 0L
          while (System.nanoTime() < deadline || count.get() < minRequests) {
            val q = next(c, k)
            val s = System.nanoTime()
            val (status, body) = send(http, port, q)
            val e = System.nanoTime()
            done.add(Done(q, c, k, s, e, status, body))
            count.incrementAndGet()
            each(c, k, q)
            k += 1
          }
        }
      })
    }
    futures.foreach(_.get())
    pool.shutdown()
    pool.awaitTermination(1, TimeUnit.MINUTES)
    val all = done.asScala.toSeq
    (all, (all.map(_.endNs).max - t0) / 1e9)
  }

  /** Failures among completed requests: non-200 or a wrong answer. */
  private def failures(done: Seq[Done]): Seq[String] =
    done.flatMap { d =>
      if (d.status != 200) Some(s"${d.q.template} HTTP ${d.status}: ${d.body.take(200)}")
      else try d.q.check(mapper.readTree(d.body))
      catch { case e: Exception => Some(s"${d.q.template}: ${e.getMessage}") }
    }

  def run(ctx: Ctx): Result = {
    val spark = ctx.spark
    ctx.mark("JVM and session")
    val dir = new java.io.File(ctx.work, "tables").getPath
    Gen.writeTables(spark, ctx.seed, dir)
    val data = new Data(ctx.seed)
    ctx.mark("inputs")
    val tables: String => DataFrame = name => graft.Tables.t(spark, dir, name)
    val server = graft.service.QueryService.start(spark, tables, 0, Some(dir))
    val port = server.getAddress.getPort
    val clients = Runtime.getRuntime.availableProcessors()
    ctx.mark("service start")
    try {
      // warm-up: JIT, codegen and the build-once sketch store, on a stream
      // of its own so the timed requests are not its literal repeats
      val warmed = closedLoop(clients, port, 0, 4 * Templates.length,
        (c, k) => query(data, ctx.seed, 1000 + c, k), (_, _, _) => ())._1
      ctx.ready()
      if (!ctx.trace) {
        val (done, wall) = closedLoop(clients, port, ctx.seconds, 0,
          (c, k) => query(data, ctx.seed, c, k), (_, _, _) => ())
        val fails = failures(warmed ++ done)
        val lat = done.map(_.ms)
        val tail = Stats.tailQuantile(lat.length)
        val tailMs = Stats.quantile(lat, tail)
        Result(warmed.length + done.length, fails.length,
          Seq("op_p50_ms" -> (Stats.median(lat) -> "ms"),
            "items_per_s" -> (done.length / wall -> "1/s")),
          Nil,
          Seq(s"jx_service: ${done.length} requests from $clients clients in " +
            s"${Main.fmt(wall, 2)} s; tail p${Main.fmt(100 * tail, 0)} " +
            s"${Main.fmt(tailMs)} ms (${lat.count(_ > tailMs)} beyond)",
            "jx_service p50 ms by template: " + done.groupBy(_.q.template).toSeq.sortBy(_._1)
              .map { case (t, ds) => s"$t=${Main.fmt(Stats.median(ds.map(_.ms)))} (${ds.length})" }
              .mkString(", ")) ++
            fails.take(5).map("FAIL " + _))
      } else traced(ctx, data, tables, dir, port, clients, warmed)
    } finally server.stop(0)
  }

  // ------------------------------------------------------------ traced

  private final case class Replay(req: String, template: String,
      formattedMs: Double, compileMs: Double, analysisMs: Double,
      optimizationMs: Double, planningMs: Double, execMs: Double,
      formatMs: Double, dashboardMs: Double, rowsOut: Long, work: Work)

  private def traced(ctx: Ctx, data: Data, tables: String => DataFrame,
      dir: String, port: Int, clients: Int, warmed: Seq[Done]): Result = {
    val spark = ctx.spark
    val sc = spark.sparkContext
    // the untraced baseline for the tracing-overhead figure
    val (base, _) = closedLoop(clients, port, ctx.seconds / 3, 0,
      (c, k) => query(data, ctx.seed, c, k), (_, _, _) => ())
    val replays = new ConcurrentLinkedQueue[Replay]()
    val w0 = ctx.counters.totals(sc)
    val (done, wall) = closedLoop(clients, port, ctx.seconds * 2 / 3, 0,
      (c, k) => query(data, ctx.seed, 100 + c, k),
      (c, k, q) => replays.add(replay(ctx, q, s"c$c-$k", tables, dir)))
    val wAll = ctx.counters.totals(sc) - w0
    val fails = failures(warmed ++ base ++ done)
    val rs = replays.asScala.toSeq
    val qs = rs.filter(_.template != "dashboard")
    val dash = rs.filter(_.template == "dashboard")
    // HTTP round trip minus the in-process runFormatted of the same query
    val httpMs = done.map(d => s"c${d.client}-${d.k}" -> d.ms).toMap
    val overhead = qs.flatMap(r => httpMs.get(r.req).map(_ - r.formattedMs))
    val med = (f: Replay => Double, xs: Seq[Replay]) => Stats.median(xs.map(f))
    val work = rs.map(_.work).foldLeft(Work())(_ + _)
    val n = math.max(1, rs.length).toDouble
    val cores = Runtime.getRuntime.availableProcessors()
    val tr = ctx.tracer
    val exec = qs.map(_.execMs).sum
    val taskWork = qs.map(_.work.runMs).sum / cores
    // Jx.run includes Catalyst analysis; optimization and planning follow
    val planning = qs.map(r => r.compileMs + r.optimizationMs + r.planningMs).sum
    val format = qs.map(_.formatMs).sum
    val self = tr.selfMs
    val verdict = {
      val parts = Seq("planning (jx compile + Catalyst)" -> planning,
        "job scheduling and other non-task time in execution" -> math.max(0, exec - taskWork),
        "task work" -> taskWork, "response formatting" -> format)
      val tot = parts.map(_._2).sum
      parts.sortBy(-_._2).map { case (k, v) => s"$k ${Main.fmt(100 * v / tot)}%" }.mkString(", ")
    }
    val layers = Seq(
      "service.overhead_ms" -> Stats.median(overhead),
      "jx.compile_ms" -> med(_.compileMs, qs),
      "sql.analysis_ms" -> med(_.analysisMs, qs),
      "sql.optimization_ms" -> med(_.optimizationMs, qs),
      "sql.planning_ms" -> med(_.planningMs, qs),
      "jx.format_ms" -> med(_.formatMs, qs),
      "spark.exec_ms" -> med(_.execMs, qs),
      "operators.dashboard_ms" -> med(_.dashboardMs, dash),
      "spark.rows_read_per_row_returned" ->
        qs.map(_.work.recordsRead).sum.toDouble / math.max(1L, qs.map(_.rowsOut).sum),
      "spark.jobs_per_op" -> work.jobs / n,
      "spark.stages_per_op" -> work.stages / n,
      "spark.tasks_per_op" -> work.tasks / n,
      "spark.sched_wait_ms" -> work.schedWaitMs / math.max(1L, work.tasks),
      "spark.core_busy_share" -> wAll.runMs / (wall * 1000 * cores),
      "spark.shuffle_write_bytes" -> work.shuffleWrite / n,
      "spark.spill_bytes" -> work.spill / n,
      "trace.uncovered_share" -> tr.uncoveredShare("jx.replay"),
      "trace.overhead_share" -> (Stats.median(done.map(_.ms)) / Stats.median(base.map(_.ms)) - 1))
    Result(warmed.length + base.length + done.length, fails.length, Nil, Layers.fill(layers),
      Seq(s"jx_service traced: ${done.length} requests, ${rs.length} in-process replays",
        s"jx_service blocking time of replayed queries: $verdict",
        s"jx_service self time by span (ms): " + self.toSeq.sortBy(-_._2)
          .map { case (k, v) => s"$k=${Main.fmt(v)}" }.mkString(", ")) ++
        fails.take(5).map("FAIL " + _))
  }

  /** One traced request's in-process replay: the same query through
    * `Jx.runFormatted`, then layer by layer under its own job group. */
  private def replay(ctx: Ctx, q: Query, req: String,
      tables: String => DataFrame, dir: String): Replay = {
    val spark = ctx.spark
    val sc = spark.sparkContext
    val tr = ctx.tracer
    def timed[T](name: String)(f: => T): (T, Double) = {
      val s = System.nanoTime()
      val v = tr.span(name, req)(f)
      (v, (System.nanoTime() - s) / 1e6)
    }
    sc.setJobGroup(req, req, interruptOnCancel = false)
    try tr.span("jx.replay", req) {
      if (q.path == "/dashboard") {
        val js = mapper.readTree(q.body)
        val (rows, dms) = timed("operators.dashboard") {
          graft.operators.Aggregates.sketchDashboardFrame(spark, dir,
            js.get("from_day").asText(), js.get("to_day").asText()).collect()
        }
        Replay(req, q.template, 0, 0, 0, 0, 0, 0, 0, dms, rows.length,
          ctx.counters.group(sc, req))
      } else {
        val (_, fms) = timed("jx.run_formatted") {
          graft.jx.Jx.runFormatted(spark, q.body, tables, Some(dir))
        }
        val before = ctx.counters.group(sc, req)
        val (df, cms) = timed("jx.compile")(graft.jx.Jx.run(spark, q.body, tables, Some(dir)))
        timed("sql.plan")(df.queryExecution.executedPlan)
        val (rows, ems) = timed("spark.exec")(df.collect())
        val local = spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
        val (_, fmtMs) = timed("jx.format")(q.format(local))
        val ph = df.queryExecution.tracker.phases
        def phase(p: String) = ph.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
        Replay(req, q.template, fms, cms, phase("analysis"), phase("optimization"),
          phase("planning"), ems, fmtMs, 0, rows.length,
          ctx.counters.group(sc, req) - before)
      }
    } finally sc.clearJobGroup()
  }
}
