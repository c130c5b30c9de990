package perfbench

import java.sql.Timestamp
import java.util.SplittableRandom

import org.apache.spark.sql.SparkSession

/** Seeded input generators. Every row is a pure function of (seed, stream,
  * index), so Spark writes the inputs in parallel while the checks compute
  * the expected answers from the same functions, never from the program.
  * Shapes follow the sf0.1 tables described in TESTDATA.md.
  */
object Gen {

  /** splitmix64 finalizer. */
  def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def rng(seed: Long, stream: Long, i: Long): SplittableRandom =
    new SplittableRandom(mix(mix(mix(seed) ^ stream) ^ i))

  /** Uniform double in [0, 1) for one decision, cheaper than a generator. */
  def unit(seed: Long, stream: Long, i: Long): Double =
    (mix(mix(mix(seed) ^ stream) ^ (i * 31 + 7)) >>> 11) * (1.0 / (1L << 53))

  def round2(x: Double): Double = math.round(x * 100.0) / 100.0

  // ------------------------------------------------------------ tables

  final case class LineItem(l_orderkey: Long, l_partkey: Long, l_suppkey: Long,
      l_linenumber: Int, l_quantity: Double, l_extendedprice: Double,
      l_discount: Double, l_tax: Double, l_returnflag: String,
      l_linestatus: String, l_shipdate: Timestamp)

  final case class Order(o_orderkey: Long, o_custkey: Long,
      o_orderstatus: String, o_totalprice: Double, o_orderdate: Timestamp,
      o_orderpriority: String)

  final case class Event(event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double, props: String)

  val NLineItem = 600000
  val NOrders = 150000
  val NEvents = 100000
  val NUsers = 1500
  val EventDays = 30
  val Flags = Array("A", "N", "R")
  private val OrderStatus = Array("O", "F", "P")
  val EventTypes = Array("click", "error", "purchase", "signup", "view")
  private val DayMs = 86400000L
  private val Epoch1992 = 694224000000L // 1992-01-01T00:00:00Z
  val Epoch2024 = 1704067200000L        // 2024-01-01T00:00:00Z

  def lineItem(seed: Long, i: Long): LineItem = {
    val r = rng(seed, 1, i)
    val qty = r.nextInt(1, 51).toDouble
    LineItem(i / 4 + 1, r.nextLong(1, 20001), r.nextLong(1, 1001),
      (i % 4).toInt + 1, qty, round2(qty * r.nextDouble(900.0, 2000.0)),
      r.nextInt(0, 11) / 100.0, r.nextInt(0, 9) / 100.0, Flags(r.nextInt(3)),
      if (r.nextBoolean()) "O" else "F",
      new Timestamp(Epoch1992 + r.nextInt(2400) * DayMs))
  }

  def order(seed: Long, i: Long): Order = {
    val r = rng(seed, 2, i)
    Order(i + 1, r.nextLong(1, 15001), OrderStatus(r.nextInt(3)),
      round2(r.nextDouble(1000.0, 500000.0)),
      new Timestamp(Epoch1992 + r.nextInt(2400) * DayMs),
      s"${r.nextInt(1, 6)}-PRIORITY")
  }

  /** Events are strictly increasing in time with event_id, spread evenly
    * over [[EventDays]] days from 2024-01-01. */
  def event(seed: Long, i: Long): Event = {
    val r = rng(seed, 3, i)
    val step = EventDays * DayMs / NEvents
    Event(i, new Timestamp(Epoch2024 + i * step + r.nextLong(step)),
      r.nextLong(1, NUsers + 1), EventTypes(r.nextInt(EventTypes.length)),
      round2(r.nextDouble(0.0, 200.0)), s"""{"k": ${r.nextInt(100)}}""")
  }

  /** Write the three service tables as `<dir>/<name>.parquet`. */
  def writeTables(spark: SparkSession, seed: Long, dir: String): Unit = {
    import spark.implicits._
    val parts = Runtime.getRuntime.availableProcessors()
    spark.range(0, NLineItem, 1, parts).map(i => lineItem(seed, i))
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    spark.range(0, NOrders, 1, parts).map(i => order(seed, i))
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    spark.range(0, NEvents, 1, parts).map(i => event(seed, i))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
  }

  // ------------------------------------------------------------ mozlog

  /** One test session is [[SessionLines]] lines: test_start, 7 test_status,
    * test_end, then an untagged log line. */
  val SessionLines = 10
  val MalformedRate = 0.002
  val FailRate = 0.03
  private val Statuses = Array("PASS", "PASS", "PASS", "TIMEOUT", "ERROR")
  private val Suites = Array("mochitest", "xpcshell", "reftest", "web-platform-tests")

  final case class Planted(lines: Long, malformed: Long, sessions: Long,
      fails: Long)

  private def malformed(seed: Long, batch: Int, i: Long): Boolean =
    unit(seed, 100 + batch, i) < MalformedRate

  private def failing(seed: Long, batch: Int, i: Long): Boolean =
    unit(seed, 200 + batch, i) < FailRate

  /** Line `i` of batch `batch`: mozlog JSON, or a truncated copy of it. */
  def mozlogLine(seed: Long, batch: Int, i: Long): String = {
    val session = i / SessionLines
    val pos = (i % SessionLines).toInt
    val r = rng(seed, 300 + batch, i)
    val suite = Suites((session % Suites.length).toInt)
    val test = s"/tests/${suite}/dir${session % 97}/test_$session.html"
    val time = Epoch2024 + batch * DayMs + (i * 7 % (DayMs - 1000)) + r.nextInt(1000)
    val thread = s"Thread-${r.nextInt(16)}"
    val line = pos match {
      case 0 =>
        s"""{"action": "test_start", "time": $time, "thread": "$thread", "source": "$suite", "test": "$test"}"""
      case p if p < SessionLines - 2 =>
        val fail = failing(seed, batch, i)
        val expected = Statuses(r.nextInt(Statuses.length))
        val status = if (fail) "FAIL" else expected
        s"""{"action": "test_status", "time": $time, "thread": "$thread", "source": "$suite", "test": "$test", "subtest": "subtest ${p} of $session", "status": "$status", "expected": "$expected", "message": "${if (fail) s"assert_equals: got ${r.nextInt(1000)}" else ""}"}"""
      case p if p == SessionLines - 2 =>
        s"""{"action": "test_end", "time": $time, "thread": "$thread", "source": "$suite", "test": "$test", "status": "OK", "expected": "OK"}"""
      case _ =>
        s"""{"action": "log", "time": $time, "thread": "$thread", "source": "$suite", "level": "INFO", "message": "gecko ${r.nextLong()} checkpoint reached"}"""
    }
    if (malformed(seed, batch, i)) line.substring(0, line.length / 2) else line
  }

  /** The counts a batch of `n` lines must produce, from the same decisions
    * [[mozlogLine]] makes. */
  def planted(seed: Long, batch: Int, n: Long): Planted = {
    var bad = 0L
    var fails = 0L
    var sessions = 0L
    var s = 0L
    while (s * SessionLines < n) {
      var tagged = false
      var p = 0
      while (p < SessionLines && s * SessionLines + p < n) {
        val i = s * SessionLines + p
        val isBad = malformed(seed, batch, i)
        if (isBad) bad += 1
        else if (p < SessionLines - 1) {
          tagged = true
          if (p > 0 && p < SessionLines - 2 && failing(seed, batch, i)) fails += 1
        }
        p += 1
      }
      if (tagged) sessions += 1
      s += 1
    }
    Planted(n, bad, sessions, fails)
  }

  def writeMozlog(spark: SparkSession, seed: Long, batch: Int, n: Long,
      dir: String): Unit = {
    import spark.implicits._
    spark.range(0, n, 1, Runtime.getRuntime.availableProcessors())
      .map(i => mozlogLine(seed, batch, i))
      .write.mode("overwrite").text(dir)
  }

  // ------------------------------------------------------------ corpus

  /** sf0.1's document vocabulary: 30 words, uniform. */
  val Vocab: Array[String] = ("spark window merge table column vector stream " +
    "value data small join filter big group hash customer sort order slow " +
    "line part fast row the agg key query a scan batch").split(" ")
  val NBench = 10
  val DupRate = 0.05
  val ContamRate = 0.01
  final case class Doc(doc_id: Long, text: String, lang: String,
      source: String, n_chars: Long)

  private def baseWords(seed: Long, id: Long): Array[String] = {
    val r = rng(seed, 400, id)
    Array.fill(r.nextInt(10, 101))(Vocab(r.nextInt(Vocab.length)))
  }

  /** What the generator planted at corpus doc `id`. */
  sealed trait Plant
  case object Plain extends Plant
  final case class DupOf(orig: Long) extends Plant
  final case class Contam(benchId: Long) extends Plant

  def plantOf(seed: Long, id: Long): Plant = {
    val u = unit(seed, 401, id)
    if (id >= NBench + 10 && u < DupRate)
      DupOf(NBench + (mix(seed ^ id) >>> 1) % (id - NBench))
    else if (id >= NBench && u < DupRate + ContamRate) Contam(id % NBench)
    else Plain
  }

  /** Doc text: bench docs (id < [[NBench]]) and plain docs are random word
    * runs of 10-100 words; a near-dup is its original plus " dup" (sf0.1's
    * own near-dup shape); a contaminated doc carries a 12-word run of its
    * bench doc. */
  def docText(seed: Long, id: Long): String = plantOf(seed, id) match {
    case DupOf(orig) => docText(seed, orig) + " dup"
    case Contam(b) =>
      val own = baseWords(seed, id)
      val bw = baseWords(seed, b)
      val start = (mix(seed ^ (id * 3)) >>> 1) % math.max(1, bw.length - 12)
      val run = bw.slice(start.toInt, start.toInt + 12)
      val at = own.length / 2
      (own.take(at) ++ run ++ own.drop(at)).mkString(" ")
    case Plain => baseWords(seed, id).mkString(" ")
  }

  private val Langs = Array("en", "en", "en", "zh", "es", "fr", "de")

  def doc(seed: Long, id: Long): Doc = {
    val t = docText(seed, id)
    Doc(id, t, Langs(((mix(seed ^ id) >>> 3) % Langs.length).toInt),
      s"src${id % 20}", t.length.toLong)
  }

  /** Corpus docs get ids [NBench, NBench + n); bench docs [0, NBench). */
  def writeCorpus(spark: SparkSession, seed: Long, n: Long, dir: String): Unit = {
    import spark.implicits._
    val parts = Runtime.getRuntime.availableProcessors()
    spark.range(NBench, NBench + n, 1, parts).map(i => doc(seed, i))
      .write.mode("overwrite").parquet(s"$dir/corpus.parquet")
    spark.range(0, NBench, 1, 1).map(i => doc(seed, i))
      .write.mode("overwrite").parquet(s"$dir/bench.parquet")
  }

  /** Root of a planted near-dup chain. */
  def dupRoot(seed: Long, id: Long): Long = plantOf(seed, id) match {
    case DupOf(o) => dupRoot(seed, o)
    case _ => id
  }
}
