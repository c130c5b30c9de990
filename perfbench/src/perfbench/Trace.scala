package perfbench

import java.io.File
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** One span: a timed call into a layer, made from the benchmark's code. */
final case class Span(id: Int, parent: Int, name: String, req: String,
    startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder. Spans nest per thread (the innermost open span
  * is the parent of the next one); they are written out once, at the end.
  * Disabled, `span` only runs its body. */
final class Tracer(val enabled: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicInteger(0)
  private val open = ThreadLocal.withInitial[List[Int]](() => Nil)

  def span[T](name: String, req: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val stack = open.get()
      val parent = stack.headOption.getOrElse(0)
      open.set(id :: stack)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        open.set(stack)
        spans.add(Span(id, parent, name, req, t0, t1))
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq

  /** Union length of intervals, ns. */
  private def covered(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    total + (curE - curS)
  }

  /** Self time per span name, ms: each span's duration minus the part of
    * its interval its children cover, summed by name. */
  def selfMs: Map[String, Double] = {
    val kids = all.groupBy(_.parent)
    all.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map { s =>
        val c = kids.getOrElse(s.id, Nil).map(k => (k.startNs, k.endNs))
        (s.endNs - s.startNs - (if (c.isEmpty) 0L else covered(c))) / 1e6
      }.sum
    }
  }

  /** Share of the named root spans' wall that no child span covers. */
  def uncoveredShare(root: String): Double = {
    val kids = all.groupBy(_.parent)
    val roots = all.filter(_.name == root)
    val wall = roots.map(s => (s.endNs - s.startNs).toDouble).sum
    val unc = roots.map { s =>
      val c = kids.getOrElse(s.id, Nil).map(k => (k.startNs, k.endNs))
      (s.endNs - s.startNs - (if (c.isEmpty) 0L else covered(c))).toDouble
    }.sum
    if (wall > 0) unc / wall else 0.0
  }

  def writeTo(f: File, notes: Seq[String]): Unit = {
    val sb = new StringBuilder
    sb.append("{\"notes\": [")
    sb.append(notes.map(Main.quote).mkString(", "))
    sb.append("],\n\"self_ms\": {")
    sb.append(selfMs.toSeq.sortBy(-_._2).map { case (n, v) =>
      s"${Main.quote(n)}: ${Main.num(v)}" }.mkString(", "))
    sb.append("},\n\"spans\": [\n")
    val base = if (all.isEmpty) 0L else all.map(_.startNs).min
    sb.append(all.sortBy(_.startNs).map { s =>
      s"""{"id": ${s.id}, "parent": ${s.parent}, "name": ${Main.quote(s.name)}, """ +
        s""""req": ${Main.quote(s.req)}, "start_ms": ${Main.num((s.startNs - base) / 1e6)}, """ +
        s""""end_ms": ${Main.num((s.endNs - base) / 1e6)}}"""
    }.mkString(",\n"))
    sb.append("\n]}\n")
    java.nio.file.Files.writeString(f.toPath, sb.toString)
  }
}

/** Spark work counted from the scheduler's listener events. */
final case class Work(jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
    runMs: Double = 0, schedWaitMs: Double = 0, shuffleWrite: Long = 0,
    spill: Long = 0, recordsRead: Long = 0, bytesWritten: Long = 0) {
  def -(o: Work): Work = Work(jobs - o.jobs, stages - o.stages, tasks - o.tasks,
    runMs - o.runMs, schedWaitMs - o.schedWaitMs, shuffleWrite - o.shuffleWrite,
    spill - o.spill, recordsRead - o.recordsRead, bytesWritten - o.bytesWritten)
  def +(o: Work): Work = Work(jobs + o.jobs, stages + o.stages, tasks + o.tasks,
    runMs + o.runMs, schedWaitMs + o.schedWaitMs, shuffleWrite + o.shuffleWrite,
    spill + o.spill, recordsRead + o.recordsRead, bytesWritten + o.bytesWritten)
}

/** The benchmark's own listener. Work is kept in total and per Spark job
  * group, so concurrent requests can be told apart: a caller tags its
  * thread with `setJobGroup` and reads `group(id)` afterwards. Reads drain
  * the listener bus first, so counts taken at a boundary are complete. */
final class Counters extends SparkListener {
  private val lock = new Object
  private var total = Work()
  private val byGroup = mutable.Map.empty[String, Work]
  private val stageGroup = mutable.Map.empty[Int, String]
  private val stageSubmit = mutable.Map.empty[Int, Long]

  private def groupOf(p: java.util.Properties): String =
    Option(p).flatMap(pp => Option(pp.getProperty("spark.jobGroup.id"))).getOrElse("")

  private def add(g: String, w: Work): Unit = {
    total = total + w
    if (g.nonEmpty) byGroup(g) = byGroup.getOrElse(g, Work()) + w
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
    val g = groupOf(e.properties)
    e.stageInfos.foreach(si => stageGroup(si.stageId) = g)
    add(g, Work(jobs = 1))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    lock.synchronized {
      val id = e.stageInfo.stageId
      stageSubmit(id) = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
      add(stageGroup.getOrElse(id, groupOf(e.properties)), Work(stages = 1))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
    val m = e.taskMetrics
    val wait = stageSubmit.get(e.stageId)
      .map(s => math.max(0L, e.taskInfo.launchTime - s).toDouble).getOrElse(0.0)
    val w =
      if (m == null) Work(tasks = 1, schedWaitMs = wait)
      else Work(tasks = 1, runMs = m.executorRunTime.toDouble, schedWaitMs = wait,
        shuffleWrite = m.shuffleWriteMetrics.bytesWritten,
        spill = m.memoryBytesSpilled + m.diskBytesSpilled,
        recordsRead = m.inputMetrics.recordsRead,
        bytesWritten = m.outputMetrics.bytesWritten)
    add(stageGroup.getOrElse(e.stageId, ""), w)
  }

  private def drain(sc: org.apache.spark.SparkContext): Unit =
    org.apache.spark.perfbench.Bus.drain(sc)

  def totals(sc: org.apache.spark.SparkContext): Work = {
    drain(sc); lock.synchronized(total)
  }

  def group(sc: org.apache.spark.SparkContext, g: String): Work = {
    drain(sc); lock.synchronized(byGroup.getOrElse(g, Work()))
  }
}
