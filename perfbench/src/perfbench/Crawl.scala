package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._

import graft.crawl.{CrawlConfig, CrawlDriver, TickStats}
import graft.functions.GraftFunctions
import graft.lake.CrawlLake
import graft.model.{FrontierEntry, RobotsEntry, Seed}
import graft.operators.{Politeness, RobotsFilter}
import graft.seen.{SeenSegments, SeenSet}
import graft.sim.ReferenceSimulator
import graft.synth.PageSynth

/** A crawl workload: corpus shape, seeds and engine configuration. One
  * pass = fresh lake, `init`, `ticks` ticks; the driver is dropped and a
  * fresh one resumes on the same lake for the last `resumeTicks`. */
final case class CrawlSpec(
    name: String,
    synth: PageSynth.Config,
    nPages: Long,
    seedHosts: Int, // 0 = every page is a seed
    budget: Int,
    ticks: Int,
    resumeTicks: Int,
    warmupSeedShare: Int, // the one-tick warm-up pass seeds 1/warmupSeedShare of the seeds
    robots: Boolean,
    cfg: CrawlConfig)

object CrawlSpec {
  /** Throughput-bound: every page seeded, fat pages (400 hosts, 10%
    * megahost, 110-119 lines: as fat as pages get while their block graph
    * stays under the extraction block cap, where the sequential reference's
    * text applies), enrichment on, two large ticks. */
  def bulk(seed: Long, tiny: Boolean): CrawlSpec = {
    val budget = if (tiny) 2 else 6
    CrawlSpec("crawl_bulk",
      PageSynth.Config(seed = seed, nHosts = if (tiny) 40 else 400, megaPct = 10,
        minLines = if (tiny) 20 else 110, extraLines = 10),
      nPages = if (tiny) 300L else 3200L, seedHosts = 0, budget = budget,
      ticks = 2, resumeTicks = 1, warmupSeedShare = 2, robots = false,
      CrawlConfig(budget = budget, enrich = true))
  }

  /** Latency-bound: discovery-driven from seeds on half the hosts, small
    * pages (200 hosts, 10% megahost), robots rules, host cooldown; tick 2
    * folds the seen set and compacts the lake, then the driver is dropped
    * and a fresh one resumes for tick 3. */
  def churn(seed: Long, tiny: Boolean): CrawlSpec = {
    val budget = if (tiny) 3 else 5
    CrawlSpec("crawl_churn",
      PageSynth.Config(seed = seed, nHosts = if (tiny) 20 else 200, megaPct = 10, minLines = 10, extraLines = 5),
      nPages = if (tiny) 400L else 5000L, seedHosts = if (tiny) 10 else 100, budget = budget,
      ticks = 3, resumeTicks = 1, warmupSeedShare = 1, robots = true,
      CrawlConfig(budget = budget, hostCooldownTicks = 1, seenCompactEvery = 2, lakeCompactEvery = 2))
  }
}

final case class TickRec(pass: Int, index: Int, wallS: Double, stats: TickStats, span: Option[Span],
    lakeBytes: Long, lakeFiles: Long, compactBytes: Long, commitEndMs: Double)

final case class PassRec(pass: Int, setupS: Double, initS: Double, resumeS: Double, ticks: Seq[TickRec],
    lakeBytes: Long, fetched: Long) {
  def tickS: Double = ticks.map(_.wallS).sum
  def urlsPerS: Double = fetched / tickS
}

final class CrawlBench(spark: SparkSession, spec: CrawlSpec, ctx: RunContext) {
  import spark.implicits._

  private val tracer = ctx.tracer
  private val cores = spark.sparkContext.defaultParallelism
  private val robotsRows: Seq[RobotsEntry] =
    if (spec.robots) PageSynth.robots() else Seq.empty
  private val robotsDs: Dataset[RobotsEntry] = spark.createDataset(robotsRows)(Encoders.product[RobotsEntry])

  private def synth(i: Long): PageSynth.SynthPage = PageSynth.synthPage(i, spec.nPages, spec.synth)

  /** The corpus, generated from the seed in parallel and written as parquet
    * (the fetch join reads a real table). */
  private def writeCorpus(): DataFrame = {
    val dir = ctx.work.resolve(s"corpus-${spec.name}")
    Util.deleteTree(dir)
    val n = spec.nPages
    val cfg = spec.synth
    spark.range(0L, n, 1L, cores * 2)
      .mapPartitions(_.map(i => PageSynth.synthPage(i, n, cfg).page))
      .write.parquet(dir.toString)
    spark.read.parquet(dir.toString)
  }

  private lazy val seeds: Vector[Seed] =
    if (spec.seedHosts <= 0) (0L until spec.nPages).map(i => Seed(PageSynth.url(i, spec.synth), 0, PageSynth.warcTs(0))).toVector
    else PageSynth.seeds(spec.nPages, spec.seedHosts, spec.synth)

  private var passNo = 0

  /** One crawl pass over a fresh lake; the caller tears the lake down.
    * `probe` records the lake's file-system delta around every tick. */
  private def pass(pagesDf: DataFrame, passSeeds: Seq[Seed], nTicks: Int, resumeTicks: Int, probe: Boolean)
      : (PassRec, CrawlLake, CrawlDriver) = {
    passNo += 1
    val p = passNo
    val t0 = Clock.nowMs
    val lakeDir = ctx.work.resolve(s"lake-${spec.name}-$p")
    Util.deleteTree(lakeDir)
    val lake = CrawlLake.forCrawl(lakeDir.toString, spark, buckets = cores, enrich = spec.cfg.enrich)
    var driver = new CrawlDriver(spark, lake, pagesDf, robotsDs, spec.cfg)
    val tInit = Clock.nowMs
    tracer.span("crawl.init")(driver.init(passSeeds))
    val initS = Clock.secondsSince(tInit)
    val setupS = Clock.secondsSince(t0)
    var resumeS = Double.NaN
    val ticks = mutable.ArrayBuffer.empty[TickRec]
    val resumeAt = nTicks - resumeTicks + 1
    var before = if (probe) Util.listFiles(lakeDir) else Map.empty[Path, (Long, Long)]
    for (i <- 1 to nTicks) {
      val tStart = Clock.nowMs
      if (i == resumeAt) {
        driver.close()
        driver = tracer.span("crawl.resume")(new CrawlDriver(spark, lake, pagesDf, robotsDs, spec.cfg))
      }
      val prevSnap = lake.latestSnapshotId.get
      val tTick = Clock.nowMs
      val stats = tracer.span("tick")(driver.tick())
      val tickS = Clock.secondsSince(tTick)
      if (i == resumeAt) resumeS = Clock.secondsSince(tStart)
      var (bytes, files, compactBytes, commitEnd) = (0L, 0L, 0L, Double.NaN)
      if (probe) {
        val after = Util.listFiles(lakeDir)
        val written = after.filter { case (f, v) => !before.get(f).contains(v) }
        bytes = written.values.map(_._1).sum
        files = written.size.toLong
        compactBytes = written.collect {
          case (f, (b, _)) if f.toString.contains("_pbatch=-") || f.getFileName.toString.startsWith("compact-") ||
            lakeDir.relativize(f).iterator().asScala.exists(_.toString.startsWith("compact-")) => b
        }.sum
        commitEnd = Option(lakeDir.resolve("snapshots").resolve(s"v${prevSnap + 1}.json"))
          .filter(Files.exists(_)).map(f => Files.getLastModifiedTime(f).toMillis.toDouble).getOrElse(Double.NaN)
        before = after
      }
      ticks += TickRec(p, i, tickS, stats, if (tracer.enabled) Some(tracer.last("tick")) else None,
        bytes, files, compactBytes, commitEnd)
    }
    val rec = PassRec(p, setupS, initS, resumeS, ticks.toSeq, Util.treeBytes(lakeDir), ticks.map(_.stats.fetched).sum)
    (rec, lake, driver)
  }

  private def teardown(lake: CrawlLake, driver: CrawlDriver): Unit = {
    driver.close()
    lake.drop()
  }

  // ---- correctness ----------------------------------------------------

  private lazy val oracle: ReferenceSimulator.SimResult = {
    val pages = (0L until spec.nPages).map { i =>
      val sp = synth(i)
      sp.copy(page = sp.page.copy(html = Array.emptyByteArray))
    }
    ReferenceSimulator.crawl(pages, seeds.map(_.url), spec.budget, spec.ticks,
      robotsRows.map(r => r.host -> r).toMap, cooldownTicks = spec.cfg.hostCooldownTicks)
  }

  /** Crawl order, seen set and extracted text against the sequential
    * reference; `perturb` swaps two expected rows (self-test only). */
  private def check(driver: CrawlDriver, res: Result): Unit = {
    val sim = oracle
    var expected = sim.crawlOrder.map(r => (r.batchId, r.urlHash, r.status))
    if (ctx.perturb && expected.size >= 2) expected = expected.updated(0, expected(1)).updated(1, expected(0))
    val got = driver.crawlOrder().select("batch_id", "url_hash", "status")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toVector
    val firstDiff = got.zip(expected).indexWhere { case (a, b) => a != b }
    res.check(s"${spec.name}.crawl_order", got == expected,
      s"${got.size} rows vs ${expected.size} expected" +
        (if (firstDiff >= 0) s", first difference at row $firstDiff" else ""))
    val seen = driver.frontier.select("url_hash").as[Long].collect().toSet
    res.check(s"${spec.name}.seen_set", seen == sim.seenHashes, s"${seen.size} vs ${sim.seenHashes.size} hashes")
    val texts = driver.extracted.select("url_hash", "extracted_text").as[(Long, String)].collect().toMap
    res.check(s"${spec.name}.extracted_text", texts == sim.extractedTexts,
      s"${texts.size} vs ${sim.extractedTexts.size} pages")
  }

  // ---- the run ------------------------------------------------------------

  def run(res: Result): Unit = {
    val tCorpus = Clock.nowMs
    val pagesDf = tracer.span("setup.corpus")(writeCorpus())
    res.context("corpus_s") = Clock.secondsSince(tCorpus)
    res.context("pages") = spec.nPages
    res.context("seeds") = seeds.size

    // warm-up: JIT and codegen caches, untimed
    val tWarm = Clock.nowMs
    tracer.span("setup.warmup") {
      val (_, lake, driver) = pass(pagesDf, seeds.take(seeds.size / spec.warmupSeedShare), 1, 0, probe = false)
      teardown(lake, driver)
    }
    res.context("warmup_s") = Clock.secondsSince(tWarm)
    res.setupS += Clock.secondsSince(tCorpus)

    val passes = mutable.ArrayBuffer.empty[PassRec]
    val tRun = Clock.nowMs
    var keep: Option[(CrawlLake, CrawlDriver)] = None
    // whole passes, as many as fit in the run's seconds (at least one)
    while (passes.isEmpty || Clock.secondsSince(tRun) * (passes.size + 1) / passes.size <= ctx.seconds) {
      keep.foreach { case (l, d) => teardown(l, d) }
      val (rec, lake, driver) =
        try tracer.span("pass")(pass(pagesDf, seeds, spec.ticks, spec.resumeTicks, probe = tracer.enabled))
        catch { case e: Exception => res.fail(s"${spec.name}.pass", e); return }
      passes += rec
      res.attempted += rec.ticks.size
      keep = Some((lake, driver))
      HeapPeak.sample()
    }
    res.heapPeakMb = HeapPeak.peakMb
    res.context("passes") = passes.size
    res.context("measured_s") = Clock.secondsSince(tRun)
    res.context("urls_per_pass") = passes.map(_.fetched)

    val (lake, driver) = keep.get
    // every pass crawls the same inputs: same page counts, and the last
    // pass's lake is checked row for row
    res.check(s"${spec.name}.passes_agree", passes.map(_.fetched).distinct.size == 1,
      passes.map(_.fetched).mkString(","))
    try check(driver, res)
    catch { case e: Exception => res.fail(s"${spec.name}.check", e) }

    if (tracer.enabled) layers(res, passes.toSeq, lake, driver, pagesDf)
    teardown(lake, driver)
    endToEnd(res, passes.toSeq)
  }

  private def endToEnd(res: Result, passes: Seq[PassRec]): Unit = {
    import Trace.{median, geomean}
    val ticks = passes.flatMap(_.ticks)
    val byIndex = ticks.groupBy(_.index).toSeq.sortBy(_._1).map { case (_, ts) => median(ts.map(_.wallS)) }
    res.metric("items_per_s", median(passes.map(_.urlsPerS)))
    res.metric("op_s_p50", median(ticks.map(_.wallS)))
    res.metric("op_s_max", byIndex.max)
    res.metric("op_s_geomean", geomean(byIndex))
    res.setupS += median(passes.map(_.setupS))
    // workload-specific figures, reported by name next to the contract set
    res.extra("crawl_urls_per_s") = median(passes.map(_.urlsPerS))
    res.extra("tick_s_p50") = median(ticks.map(_.wallS))
    res.extra("tick_s_max") = byIndex.max
    res.extra("resume_s") = median(passes.map(_.resumeS))
    res.extra("lake_bytes_per_page") = median(passes.map(p => p.lakeBytes.toDouble / math.max(1L, p.fetched)))
    res.extra("init_s") = median(passes.map(_.initS))
    res.context("tick_s_by_index") = byIndex
  }

  // ---- per-layer (traced run only) ------------------------------------------

  private def layers(res: Result, passes: Seq[PassRec], lake: CrawlLake, driver: CrawlDriver, pagesDf: DataFrame): Unit = {
    import Trace.median
    val sc = spark.sparkContext
    // probes over the last pass's lake, before teardown
    val probeMetrics = mutable.LinkedHashMap.empty[String, Double]

    val pendingS = Util.timed(tracer.span("probe.read_pending")(driver.pending.count()))._2
    probeMetrics("lake.read_pending_s") = pendingS

    val (rowsOut, schedS) = Util.timed(tracer.span("probe.schedule") {
      Politeness.schedule(RobotsFilter.filterAllowed(driver.pending, robotsDs), spec.budget).count()
    })
    probeMetrics("operators.schedule_s") = schedS
    probeMetrics("operators.schedule_rows_out") = rowsOut.toDouble
    tracer.drain(sc)
    val schedSpan = tracer.last("probe.schedule")
    val schedStages = tracer.spark.get.stagesOf(tracer.spark.get.jobsIn(schedSpan.startMs, schedSpan.endMs))
    probeMetrics("operators.schedule_task_skew") = (1.0 +: schedStages.map(_.skew)).max

    val segSchema = Encoders.product[SeenSet.Segment].schema
    val segments = lake.read("seen", segSchema).as[SeenSet.Segment]
    val segs = segments.collect()
    probeMetrics("seen.segment_bytes") = segs.map(_.segment.length.toLong).sum.toDouble
    val frontierHashes = driver.frontier.select("url_hash")
    val known = driver.frontier.as[FrontierEntry].collect()
    val knownNew = known.indices.map { i =>
      val u = s"https://probe-${i % 97}.invalid/new/$i"
      val cu = graft.util.UrlCanonicalizer.canonicalize(u)
      FrontierEntry(graft.util.UrlCanonicalizer.urlHash(u), cu, graft.util.UrlCanonicalizer.host(cu),
        1, ReferenceSimulator.tickTs(1), i.toLong, 0L, 1.0)
    }
    val p = spec.cfg.seenPartitions
    val grouped = SeenSet.groupSegments(segs, p)
    val maybe = knownNew.count { e =>
      val part = grouped(java.lang.Math.floorMod(e.url_hash, p.toLong).toInt)
      part.exists(b => SeenSegments.probeFn(b)(e.url_hash))
    }
    probeMetrics("seen.fpr") = maybe.toDouble / math.max(1, knownNew.size)
    val candidates = spark.createDataset(known.toSeq ++ knownNew).cache()
    candidates.count()
    val (admitted, probeS) = Util.timed(tracer.span("probe.seen_probe") {
      SeenSet.filterNew(candidates, segments, frontierHashes, p).count()
    })
    candidates.unpersist()
    res.check(s"${spec.name}.seen_probe_admits_only_new", admitted == knownNew.size,
      s"$admitted admitted of ${knownNew.size} new + ${known.length} known")
    probeMetrics("seen.probe_s") = probeS
    probeMetrics("seen.probe_rows_per_s") = (known.length + knownNew.size) / probeS
    probeMetrics("seen.merge_s") = Util.timed(tracer.span("probe.seen_merge") {
      SeenSet.mergeSegments(segments, SeenSet.emptySegments(spark), spec.cfg.seenKind, spec.cfg.expectedPerSegment)
        .write.format("noop").mode("overwrite").save()
    })._2
    val ticks = passes.flatMap(_.ticks)
    val stats = ticks.map(_.stats)
    probeMetrics("seen.admit_ratio") =
      stats.map(_.admittedNew).sum.toDouble / math.max(1L, stats.map(_.discovered).sum)
    probeMetrics("lake.bytes_written_per_tick") = median(ticks.map(_.lakeBytes.toDouble))
    probeMetrics("lake.files_written_per_tick") = median(ticks.map(_.lakeFiles.toDouble))
    probeMetrics("lake.live_files") = Util.listFiles(Path.of(lake.root)).size.toDouble
    probeMetrics("lake.compact_bytes_rewritten") =
      Trace.median(passes.map(_.ticks.map(_.compactBytes.toDouble).sum))
    probeMetrics("crawl.init_s") = median(passes.map(_.initS))

    Kernels.probe(spark, tracer, pagesDf.limit(Kernels.ProbePages), probeMetrics)
    tracer.drain(sc)

    // tick phases: each tick's wall split by the jobs running in it
    val st = tracer.spark.get
    val phaseRows = ticks.map { t =>
      val sp = t.span.get
      val js = st.jobsIn(sp.startMs, sp.endMs)
      // the tick's first engine action materialises the schedule (pending,
      // robots, politeness); lake jobs after the tick's commit manifest was
      // written are compaction
      val scheduleSite = js.find(j => ctx.layerOf(j.file) != "lake").map(_.site)
      val labelled = js.map { j =>
        val layer = ctx.layerOf(j.file)
        val phase =
          if (layer == "lake") { if (!t.commitEndMs.isNaN && j.startMs > t.commitEndMs) "compact" else "commit" }
          else if (scheduleSite.contains(j.site) || layer == "operators") "schedule"
          else "chain"
        (j.startMs, j.endMs, phase)
      }
      val parts = Trace.sweep(sp.startMs, sp.endMs, labelled, "driver")
      (t, js, parts, labelled)
    }
    // means, so the phases add up to the mean tick wall
    val tickWall = phaseRows.map(_._1.wallS).sum
    for (k <- Seq("schedule", "chain", "commit", "compact", "driver")) {
      val total = phaseRows.map(_._3.getOrElse(k, 0.0) / 1000.0).sum
      probeMetrics(s"tick.${k}_s") = total / phaseRows.size
      probeMetrics(s"tick.${k}_frac") = total / tickWall
    }
    val maxPhaseGap = phaseRows.map { case (t, _, parts, _) =>
      math.abs(parts.values.sum / 1000.0 - t.span.get.wallS) / t.span.get.wallS
    }.max
    res.context("tick_phase_sum_max_rel_gap") = maxPhaseGap
    res.check(s"${spec.name}.tick_phases_add_up", maxPhaseGap <= 0.05, f"max relative gap $maxPhaseGap%.4f")
    res.context("tick_phases") = phaseRows.map { case (t, js, parts, labelled) =>
      Map("pass" -> t.pass, "tick" -> t.index, "wall_s" -> t.wallS,
        "jobs" -> js.zip(labelled).map { case (j, l) => s"${l._3} ${j.site} ${(j.endMs - j.startMs).toLong}ms" }) ++
        parts.map { case (k, v) => s"${k}_s" -> v / 1000.0 }
    }

    Spans.opMetrics(res, st, ticks.flatMap(_.span), ctx)
    probeMetrics.foreach { case (k, v) => res.metric(k, v) }
    res.metric("trace.items_per_s", median(passes.map(_.urlsPerS)))
  }
}

object CrawlBench {
  /** Per-layer metrics that only a crawl has (counts, bytes and shares);
    * the registry run reports them as 0 so every run has the same set. */
  val CrawlOnly: Seq[String] = Seq(
    "tick.schedule_frac", "tick.chain_frac", "tick.commit_frac", "tick.compact_frac", "tick.driver_frac",
    "operators.schedule_rows_out", "operators.schedule_task_skew",
    "seen.fpr", "seen.admit_ratio", "seen.segment_bytes",
    "lake.bytes_written_per_tick", "lake.files_written_per_tick", "lake.live_files", "lake.compact_bytes_rewritten")
}

/** Kernel probes: public column functions over cached pages to a `noop`
  * sink, median of three calls each. */
object Kernels {
  val ProbePages = 1500

  def probe(spark: SparkSession, tracer: Tracer, pages: DataFrame, out: mutable.Map[String, Double]): Unit = {
    val cached = pages.select(col("url"), col("html"), col("text")).cache()
    val n = cached.count().toDouble
    val mb = cached.agg(sum(length(col("html")))).head().getLong(0) / 1e6
    val links = cached.select(explode(GraftFunctions.extract_links(col("html"), col("url"))).as("link")).cache()
    val nLinks = links.count().toDouble
    def time3(name: String)(df: => DataFrame): Double = median3(name) {
      df.write.format("noop").mode("overwrite").save()
    }
    def median3(name: String)(body: => Unit): Double =
      Trace.median((1 to 3).map(_ => Util.timed(tracer.span(s"probe.$name")(body))._2))
    val extractS = time3("extract_page")(cached.select(GraftFunctions.extract_page(col("html"), col("url")).as("p")))
    out("functions.extract_page_rows_per_s") = n / extractS
    out("functions.extract_page_mb_per_s") = mb / extractS
    out("functions.link_identity_rows_per_s") =
      nLinks / time3("link_identity")(links.select(GraftFunctions.link_identity(col("link")).as("li")))
    out("functions.url_hash64_rows_per_s") =
      nLinks / time3("url_hash64")(links.select(GraftFunctions.url_hash64(col("link")).as("h")))
    out("ml.enrich_doc_rows_per_s") =
      n / time3("enrich_doc")(cached.select(graft.ml.TextEnrichFunctions.enrich_doc(col("text")).as("e")))
    links.unpersist()
    cached.unpersist()
  }
}
