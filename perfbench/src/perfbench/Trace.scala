package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Wall clock in epoch milliseconds with sub-millisecond resolution, on the
  * same time base as the Spark listener's event times. */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
  def secondsSince(startMs: Double): Double = (nowMs - startMs) / 1000.0
}

final case class Span(id: Int, name: String, parent: Int, startMs: Double, endMs: Double) {
  def wallS: Double = (endMs - startMs) / 1000.0
}

/** One Spark job as seen by [[SparkTrace]]: its interval, call site (the
  * final stage's name, e.g. `count at CrawlDriver.scala:430`) and stages. */
final case class JobRec(id: Int, startMs: Double, endMs: Double, site: String, stageIds: Seq[Int]) {
  /** Source file stem of the call site (`CrawlDriver`), never the line. */
  def file: String = JobRec.fileOf(site)
}

object JobRec {
  private val SiteFile = """ at ([A-Za-z0-9_$]+)\.(?:scala|java)""".r
  def fileOf(site: String): String =
    SiteFile.findFirstMatchIn(site).map(_.group(1)).getOrElse("?")
}

final class StageRec(val id: Int, val name: String) {
  var tasks = 0
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleRecords = 0L
  var spillBytes = 0L
  val taskRunMs = mutable.ArrayBuffer.empty[Long]
  /** max/p50 task run time; 1.0 for stages with fewer than 4 tasks. */
  def skew: Double =
    if (taskRunMs.size < 4) 1.0
    else {
      val s = taskRunMs.sorted
      s.last.toDouble / math.max(1L, s(s.size / 2)).toDouble
    }
}

/** The benchmark's own `SparkListener`: jobs, stages and task metrics.
  * A job's call site is its SQL execution's (the user action that started
  * the query, e.g. `count at CrawlDriver.scala:430`), so the jobs that
  * adaptive execution submits from its own threads are attributed to the
  * action too; jobs outside SQL use their final stage's name. */
final class SparkTrace extends SparkListener {
  private val jobStarts = mutable.Map.empty[Int, (Double, String, Seq[Int])]
  private val execSite = mutable.Map.empty[Long, String]

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart => synchronized {
      val root = s.rootExecutionId.getOrElse(s.executionId)
      execSite(s.executionId) = execSite.getOrElse(root, s.description)
    }
    case _ =>
  }
  val jobs = mutable.ArrayBuffer.empty[JobRec]
  val stages = mutable.Map.empty[Int, StageRec]

  private def stage(id: Int, name: String): StageRec = stages.getOrElseUpdate(id, new StageRec(id, name))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val last = e.stageInfos.maxBy(_.stageId)
    e.stageInfos.foreach(si => stage(si.stageId, si.name))
    val site = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => execSite.get(id.toLong)).filter(_.contains(" at ")).getOrElse(last.name)
    jobStarts(e.jobId) = (e.time.toDouble, site, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStarts.remove(e.jobId).foreach { case (t0, site, ids) =>
      jobs += JobRec(e.jobId, t0, e.time.toDouble, site, ids)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val s = stages.getOrElseUpdate(e.stageId, new StageRec(e.stageId, "?"))
      s.tasks += 1
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      s.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
      s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      s.taskRunMs += m.executorRunTime
    }
  }

  /** Jobs that started inside [startMs, endMs]. */
  def jobsIn(startMs: Double, endMs: Double): Seq[JobRec] = synchronized {
    jobs.filter(j => j.startMs >= math.floor(startMs) && j.startMs <= math.ceil(endMs))
      .sortBy(_.startMs).toSeq
  }

  def stagesOf(js: Seq[JobRec]): Seq[StageRec] = synchronized {
    js.flatMap(_.stageIds).distinct.flatMap(stages.get).filter(_.tasks > 0)
  }
}

/** Span recorder: spans live in memory and are written once, at the end.
  * Disabled tracers only run the body (the untraced, end-to-end run). */
final class Tracer(val runId: String, val enabled: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  val spark: Option[SparkTrace] = if (enabled) Some(new SparkTrace) else None

  def install(sc: SparkContext): Unit = spark.foreach(sc.addSparkListener)

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = spans.size
      spans += Span(id, name, stack.headOption.getOrElse(-1), Clock.nowMs, Double.NaN)
      stack = id :: stack
      try body
      finally {
        spans(id) = spans(id).copy(endMs = Clock.nowMs)
        stack = stack.tail
      }
    }

  /** The most recently closed span with this name. */
  def last(name: String): Span = spans.reverseIterator.find(_.name == name).get

  /** Block until the listener has seen every event posted so far. */
  def drain(sc: SparkContext): Unit = if (enabled) org.apache.spark.perfbench.BusDrain.drain(sc)

  def records: Seq[Map[String, Any]] = spans.toSeq.map { s =>
    Map("run" -> runId, "id" -> s.id, "name" -> s.name, "parent" -> s.parent,
      "start_ms" -> s.startMs, "end_ms" -> s.endMs)
  }
}

object Trace {

  /** Split [a, b] among labelled intervals: every instant with no interval
    * open goes to `idle`; an instant covered by k intervals gives 1/k to
    * each one's label. The parts add up to b - a exactly. */
  def sweep(a: Double, b: Double, ivs: Seq[(Double, Double, String)], idle: String): Map[String, Double] = {
    val clipped = ivs.map { case (s, e, l) => (math.max(a, s), math.min(b, e), l) }.filter(i => i._2 > i._1)
    val cuts = (Seq(a, b) ++ clipped.flatMap(i => Seq(i._1, i._2))).distinct.sorted
    val out = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    cuts.sliding(2).foreach {
      case Seq(t0, t1) =>
        val open = clipped.filter(i => i._1 <= t0 && i._2 >= t1)
        if (open.isEmpty) out(idle) += t1 - t0
        else open.foreach(i => out(i._3) += (t1 - t0) / open.size)
      case _ =>
    }
    out.toMap
  }

  /** Source-file stem → layer (the engine package that holds the file),
    * read from the checkout's source tree so renames need no table here. */
  def layerMap(srcRoot: java.nio.file.Path): Map[String, String] =
    if (!java.nio.file.Files.isDirectory(srcRoot)) Map.empty
    else scala.util.Using.resource(java.nio.file.Files.walk(srcRoot)) { paths =>
      paths.iterator().asScala
        .filter(_.toString.endsWith(".scala"))
        .map { p =>
          val rel = srcRoot.relativize(p).iterator().asScala.map(_.toString).toSeq
          val layer = if (rel.size >= 3 && rel.head == "graft") rel(1) else "graft"
          p.getFileName.toString.stripSuffix(".scala") -> layer
        }.toMap
    }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else math.exp(xs.map(x => math.log(math.max(x, 1e-9))).sum / xs.size)
}
