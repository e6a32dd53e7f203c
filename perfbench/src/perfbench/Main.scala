package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Everything one run measures. `metrics` holds the contract metrics (the
  * end-to-end set untraced, the per-layer set traced); `extra` holds the
  * workload's own named figures, printed next to them. */
final class Result {
  val metrics = mutable.LinkedHashMap.empty[String, Double]
  val extra = mutable.LinkedHashMap.empty[String, Double]
  val context = mutable.LinkedHashMap.empty[String, Any]
  val checks = mutable.ArrayBuffer.empty[Map[String, Any]]
  var attempted = 0L
  var failed = 0L
  var setupS = 0.0
  var heapPeakMb = Double.NaN

  def metric(name: String, v: Double): Unit = metrics(name) = v

  def check(name: String, ok: Boolean, detail: String): Unit = {
    checks += Map("name" -> name, "ok" -> ok, "detail" -> detail)
    if (!ok) failed += 1
    attempted += 1
  }

  def fail(name: String, e: Throwable): Unit = {
    e.printStackTrace()
    check(name, ok = false, s"${e.getClass.getName}: ${e.getMessage}")
  }

  def correct: Boolean = checks.nonEmpty && checks.forall(_("ok") == true)
}

final class RunContext(
    val workload: String,
    val seed: Long,
    val seconds: Double,
    val tracer: Tracer,
    val work: Path,
    val perturb: Boolean,
    val tiny: Boolean,
    layers: Map[String, String]) {
  /** Layer of a call-site source file: an engine package, the benchmark
    * itself, or `other`. */
  def layerOf(file: String): String =
    layers.getOrElse(file, if (Main.benchFiles.contains(file)) "bench" else "other")
}

object Util {
  def timed[T](body: => T): (T, Double) = {
    val t0 = Clock.nowMs
    val v = body
    (v, Clock.secondsSince(t0))
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      scala.util.Using.resource(Files.walk(p))(_.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_)))

  /** Regular files under `p` → (size, mtime ms). */
  def listFiles(p: Path): Map[Path, (Long, Long)] =
    if (!Files.exists(p)) Map.empty
    else scala.util.Using.resource(Files.walk(p)) { s =>
      s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(f => f -> (Files.size(f), Files.getLastModifiedTime(f).toMillis)).toMap
    }

  def treeBytes(p: Path): Long = listFiles(p).values.map(_._1).sum
}

/** Listener figures over a set of operation spans (crawl ticks or registry
  * queries): jobs, stages, tasks, time with and without a job running,
  * shuffle, spill, task skew, GC and CPU shares, and the share of executor
  * time per layer (by the stage's call-site source file). */
object Spans {
  /** Engine packages that run Spark jobs, the top-level `graft` files
    * (the registry), the benchmark, and `other` (any other call site). */
  val Layers = Seq("crawl", "lake", "seen", "operators", "ml", "graft", "bench", "other")

  def opMetrics(res: Result, st: SparkTrace, ops: Seq[Span], ctx: RunContext): Unit = {
    import Trace.median
    val perOp = ops.map { sp =>
      val js = st.jobsIn(sp.startMs, sp.endMs)
      val ss = st.stagesOf(js)
      val parts = Trace.sweep(sp.startMs, sp.endMs, js.map(j => (j.startMs, j.endMs, "job")), "driver")
      (js, ss, parts)
    }
    res.metric("op.jobs", median(perOp.map(_._1.size.toDouble)))
    res.metric("op.stages", median(perOp.map(_._2.size.toDouble)))
    res.metric("op.tasks", median(perOp.map(_._2.map(_.tasks).sum.toDouble)))
    res.metric("op.driver_s", median(perOp.map(_._3.getOrElse("driver", 0.0) / 1000.0)))
    res.metric("op.job_s", median(perOp.map(_._3.getOrElse("job", 0.0) / 1000.0)))
    val stages = perOp.flatMap(_._2).distinct
    res.metric("spark.shuffle_write_bytes", median(perOp.map(_._2.map(_.shuffleWriteBytes).sum.toDouble)))
    res.metric("spark.shuffle_records", median(perOp.map(_._2.map(_.shuffleRecords).sum.toDouble)))
    res.metric("spark.spill_bytes", stages.map(_.spillBytes).sum.toDouble)
    res.metric("spark.task_skew_max", if (stages.isEmpty) 1.0 else stages.map(_.skew).max)
    val runMs = math.max(1L, stages.map(_.runMs).sum).toDouble
    res.metric("spark.gc_frac", stages.map(_.gcMs).sum / runMs)
    res.metric("spark.cpu_frac", stages.map(_.cpuNs).sum / 1e6 / runMs)
    // stage → layer by the job's call site; each stage counted once
    val stageLayer = perOp.flatMap(_._1).flatMap(j => j.stageIds.map(_ -> ctx.layerOf(j.file))).toMap
    val byLayer = stages.groupBy(s => stageLayer.getOrElse(s.id, "other"))
      .map { case (l, ss) => (if (Layers.contains(l)) l else "other") -> ss.map(_.runMs).sum }
      .groupMapReduce(_._1)(_._2)(_ + _)
    Layers.foreach(l => res.metric(s"layer.${l}_frac", byLayer.getOrElse(l, 0L) / runMs))
  }
}

object Main {
  /** Source-file stems of the benchmark itself (call sites in these files
    * are benchmark code, e.g. the registry's `.count()`). */
  val benchFiles = Set("Main", "Crawl", "Registry", "Trace", "Ambient")

  val json: com.fasterxml.jackson.databind.ObjectMapper =
    new com.fasterxml.jackson.databind.ObjectMapper().registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  private def arg(args: Array[String], k: String): Option[String] = {
    val i = args.indexOf(k)
    if (i >= 0 && i + 1 < args.length) Some(args(i + 1)) else None
  }

  def main(args: Array[String]): Unit = {
    val workload = arg(args, "--workload").getOrElse(sys.error("--workload required"))
    val seed = arg(args, "--seed").map(_.toLong).getOrElse(1L)
    val seconds = arg(args, "--seconds").map(_.toDouble).getOrElse(10.0)
    val traced = arg(args, "--trace").contains("1")
    val cores = arg(args, "--cores").map(_.toInt).getOrElse(4)
    val out = Path.of(arg(args, "--out").getOrElse("result.json"))
    val work = Path.of(arg(args, "--work").getOrElse(".bench_build/work")).toAbsolutePath
    val srcRoot = Path.of(arg(args, "--src").getOrElse("src/main/scala"))
    val launchMs = arg(args, "--launch-ms").map(_.toDouble).getOrElse(Clock.nowMs)
    val tiny = arg(args, "--size").contains("tiny")
    val perturb = args.contains("--perturb")
    Files.createDirectories(work)

    val res = new Result
    res.context("workload") = workload
    res.context("seed") = seed
    res.context("cores") = cores
    res.context("size") = if (tiny) "tiny" else "full"

    val spark = GraftSessionFor(cores, work)
    val tracer = new Tracer(s"$workload-$seed-$cores-${System.currentTimeMillis()}", traced)
    tracer.install(spark.sparkContext)
    res.context("session_s") = Clock.secondsSince(launchMs)
    res.setupS = Clock.secondsSince(launchMs)
    // after the session start, so set-up time does not include it
    res.context("ambient_before") = Ambient.snapshot(work)
    val ctx = new RunContext(workload, seed, seconds, tracer, work, perturb, tiny, Trace.layerMap(srcRoot))

    try workload match {
      case "crawl_bulk" => new CrawlBench(spark, CrawlSpec.bulk(seed, tiny), ctx).run(res)
      case "crawl_churn" => new CrawlBench(spark, CrawlSpec.churn(seed, tiny), ctx).run(res)
      case "registry" => new RegistryBench(spark, ctx).run(res)
      // class-loading run for the JVM's class-data archive (see run.py)
      case "archive" => spark.range(0L, 1000L).selectExpr("sum(id)").collect()
      case other => sys.error(s"unknown workload $other")
    } catch { case e: Throwable => res.fail(s"$workload.run", e) }

    res.metric("heap_peak_mb", res.heapPeakMb)
    res.metric("setup_s", res.setupS)
    res.context("ambient_after") = Ambient.snapshot(work)
    tracer.drain(spark.sparkContext)
    val doc = mutable.LinkedHashMap[String, Any](
      "correct" -> res.correct,
      "attempted" -> res.attempted,
      "failed" -> res.failed,
      "metrics" -> res.metrics,
      "extra" -> res.extra,
      "checks" -> res.checks,
      "context" -> res.context,
      "spans" -> tracer.records)
    Files.writeString(out, Main.json.writeValueAsString(doc))
    spark.stop()
  }
}

/** The engine's recommended session (`GraftSession`: in-memory catalog,
  * AQE, broadcast budget) with every scratch path inside the work dir. */
object GraftSessionFor {
  def apply(cores: Int, work: Path): SparkSession = {
    val s = graft.GraftSession.local(cores)
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.parquet.columnarReaderBatchSize", "256")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
