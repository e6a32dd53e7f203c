package graft.util

import org.scalatest.funsuite.AnyFunSuite

/** The bench ambient sentinels ([[graft.tools.CrawlHeadline]]) are
  * measurement instruments the BASELINE numbers lean on — smoke-check
  * their contracts (positive finite readings, no residue on disk). */
class SentinelSpec extends AnyFunSuite {

  test("cpu sentinel: positive, finite, repeatable within an order of magnitude") {
    val a = graft.tools.CrawlHeadline.sentinel()
    val b = graft.tools.CrawlHeadline.sentinel()
    assert(a > 0 && b > 0 && a.isFinite && b.isFinite)
    assert(a / b < 10 && b / a < 10, s"wildly unstable: $a vs $b")
  }

  test("io sentinel: positive reading, probe file removed, custom dir honored") {
    val dir = java.nio.file.Files.createTempDirectory("graft-iosent-spec")
    val before = java.nio.file.Files.list(dir).count()
    val r = graft.tools.CrawlHeadline.ioSentinel(dir.toString)
    assert(r > 0 && r.isFinite)
    assert(java.nio.file.Files.list(dir).count() == before, "probe file leaked")
    java.nio.file.Files.delete(dir)
  }
}
