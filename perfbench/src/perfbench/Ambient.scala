package perfbench

/** Host context recorded next to the metrics (never a metric itself):
  * fixed CPU sentinels and a fixed fsync'd write. A reading far above its
  * usual value marks a degraded window on a shared host. */
object Ambient {

  /** Seconds for a fixed 100M-step splitmix64 chain. */
  private def chain(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9e3779b97f4a7c15L
    var acc = 0L
    var i = 0
    while (i < 100000000) {
      x += 0x9e3779b97f4a7c15L
      var z = x
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      acc ^= z ^ (z >>> 31)
      i += 1
    }
    if (acc == 42L) System.err.println("sentinel fixed point")
    (System.nanoTime() - t0) / 1e9
  }

  /** The chain on one core, then on every core at once (slowest thread):
    * the second also shows contention from neighbours on shared cores,
    * which a single busy core does not feel. */
  def cpuSentinels(): Map[String, Double] = {
    val one = chain()
    val n = Runtime.getRuntime.availableProcessors
    val times = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
    val threads = (1 to n).map(_ => new Thread(() => { times.add(chain()); () }))
    threads.foreach(_.start())
    threads.foreach(_.join())
    Map("cpu_sentinel_s" -> one, "cpu_sentinel_all_cores_s" -> times.toArray.map(_.asInstanceOf[Double]).max)
  }

  /** Seconds to write 16 MB in 1 MB blocks and fsync it, in `dir`. */
  def fsyncSentinel(dir: java.nio.file.Path): Double = {
    java.nio.file.Files.createDirectories(dir)
    val buf = java.nio.ByteBuffer.allocate(1 << 20)
    val p = dir.resolve(s"fsync-sentinel-${System.nanoTime()}")
    val t0 = System.nanoTime()
    val ch = java.nio.channels.FileChannel.open(p,
      java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.WRITE)
    try {
      var i = 0
      while (i < 16) { buf.clear(); ch.write(buf); i += 1 }
      ch.force(true)
    } finally {
      ch.close()
      java.nio.file.Files.deleteIfExists(p)
    }
    (System.nanoTime() - t0) / 1e9
  }

  /** CPU time the hypervisor gave to other guests (steal), in seconds
    * summed over all CPUs since boot; NaN where /proc/stat is absent. */
  def stealS(): Double =
    try {
      val f = java.nio.file.Files.readAllLines(java.nio.file.Path.of("/proc/stat")).get(0).trim.split("\\s+")
      f(8).toDouble / 100.0
    } catch { case _: Exception => Double.NaN }

  def snapshot(dir: java.nio.file.Path): Map[String, Double] =
    cpuSentinels() ++ Map("fsync_sentinel_s" -> fsyncSentinel(dir), "steal_s" -> stealS())
}

/** Heap retained by the workload: heap in use right after a full
  * collection, taken at the end of each timed pass while its state (driver,
  * lake handles, caches) is still open. The run reports the largest. */
object HeapPeak {
  private var peak = 0.0

  def sample(): Unit = {
    // twice, so blocks the context cleaner frees after the first collection
    // are gone too
    System.gc()
    Thread.sleep(300)
    System.gc()
    val used = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    peak = math.max(peak, used / (1024.0 * 1024.0))
  }

  def peakMb: Double = peak
}
