package graft.sim

import java.sql.Timestamp

import scala.collection.mutable

import graft.model.{FrontierEntry, RobotsEntry}
import graft.operators.RobotsMatcher
import graft.synth.PageSynth.SynthPage
import graft.util.UrlCanonicalizer

/** Sequential oracles for the distributed engine (SURVEY.md §5 items 3-4,
  * FIXTURES.md A6).
  *
  * [[referenceTick]] is a literal, line-faithful transcription of the
  * reference's discovery stage (`scrape-pdfs-from-website/lambda.ts:58-100`):
  * DOM-order hrefs → `includes("DownloadDocumentPDF")` filter →
  * `slice(0, budget)` → `split("DocumentId=").pop()` key extraction →
  * put-overwrite (last-writer-wins) into the seen table. The Spark pipeline
  * must reproduce its admitted order and final seen-set exactly.
  *
  * [[CrawlSim]] is the generalized multi-tick crawl spec — the engine's
  * *definition* of crawl order, written as a single-threaded loop so the
  * distributed implementation can be checked against it at any parallelism.
  * Ordering spec (every comparison is a total order — SURVEY.md §7.3(a)):
  *   - per-host schedule order:   (priority, depth, discovery_ts, seq_in_page, url_hash)
  *   - per-host budget per tick:  first `budget` rows in that order
  *     (generalizes the reference's first-5-in-document-order slice)
  *   - global crawl order:        (batch_id, priority, depth, discovery_ts,
  *                                 seq_in_page, url_hash)
  *   - first-discovery-wins dedup; within one tick the surviving row is
  *     min(depth, discovery_ts, seq_in_page, src_hash).
  */
object ReferenceSimulator {

  /** Reference-literal single-tick semantics. Returns the admitted
    * (documentId, downloadUrl) list in admitted order; mutates `seen`
    * with DynamoDB put-overwrite semantics. */
  def referenceTick(
      allHrefs: Seq[String],
      budget: Int,
      seen: mutable.LinkedHashMap[String, String]): Seq[(String, String)] = {
    val downloadUrls = allHrefs.filter(_.contains("DownloadDocumentPDF"))
    val admitted = downloadUrls.slice(0, budget).map { downloadUrl =>
      // JS .split().pop() keeps trailing empty strings; Scala's default
      // split drops them, so a URL ending exactly in "DocumentId=" would
      // pop the PREFIX instead of "" — limit -1 restores JS semantics
      // (round-5 review; line-faithful to scrape-pdfs-from-website)
      val documentId = downloadUrl.split("DocumentId=", -1).last
      seen.put(documentId, downloadUrl) // put-overwrite, last writer wins
      (documentId, downloadUrl)
    }
    admitted
  }

  final case class ScheduledRow(
      batchId: Long,
      urlHash: Long,
      url: String,
      host: String,
      depth: Int,
      status: Int,
      seqInPage: Long)

  final case class SimResult(
      crawlOrder: Vector[ScheduledRow],
      seenHashes: Set[Long],
      extractedTexts: Map[Long, String])

  /** The engine's batch timestamps ([[graft.crawl.CrawlDriver.tickTs]]). */
  def tickTs(t: Long): Timestamp = graft.crawl.CrawlDriver.tickTs(t)

  /** Generalized multi-tick crawl simulator over a closed synthetic corpus. */
  def crawl(
      pages: IndexedSeq[SynthPage],
      seedUrls: Seq[String],
      budget: Int,
      ticks: Int,
      robots: Map[String, RobotsEntry] = Map.empty,
      linkFilter: String => Boolean = _ => true,
      /** cross-tick host cooldown: a host fetched at tick b is ineligible
        * for ticks b+1 .. b+cooldownTicks (mirrors
        * CrawlConfig.hostCooldownTicks; 0 = off). */
      cooldownTicks: Int = 0): SimResult = {

    val pageByHash: Map[Long, SynthPage] =
      pages.map(p => UrlCanonicalizer.urlHash(p.page.url) -> p).toMap

    val frontier = mutable.LinkedHashMap.empty[Long, FrontierEntry]
    val fetched = mutable.Set.empty[Long]
    val hostLastTick = mutable.Map.empty[String, Long]
    val crawlOrder = mutable.ArrayBuffer.empty[ScheduledRow]
    val extractedTexts = mutable.Map.empty[Long, String]

    // seed insertion (depth 0, seq = position in the seed list, src 0)
    seedUrls.zipWithIndex.foreach { case (u, i) =>
      val cu = UrlCanonicalizer.canonicalize(u)
      val h = UrlCanonicalizer.urlHash(u)
      if (!frontier.contains(h))
        frontier.put(h, FrontierEntry(h, cu, UrlCanonicalizer.host(cu), 0, tickTs(0), i.toLong, 0L, 0.0))
    }

    for (t <- 1 to ticks) {
      // pending + robots filter
      val pending = frontier.valuesIterator
        .filterNot(e => fetched.contains(e.url_hash))
        .filterNot(e => cooldownTicks > 0 &&
          hostLastTick.get(e.host).exists(lt => t - lt <= cooldownTicks))
        .filter(e => RobotsMatcher.allowedUrl(robots, e.host, e.url))
        .toVector

      // per-host schedule order + budget (tightened by robots crawl_delay,
      // mirroring Politeness.effectiveBudget: floor(60s-tick / delay))
      def effectiveBudget(host: String): Int =
        robots.get(host).map(_.crawl_delay).filter(_ > 0.0)
          .map(d => math.min(budget, math.max(1, math.floor(60.0 / d).toInt)))
          .getOrElse(budget)
      val scheduled = pending
        .groupBy(_.host)
        .toVector
        .flatMap { case (host, rows) =>
          rows
            .sortBy(e => (e.priority, e.depth, e.discovery_ts.getTime, e.seq_in_page, e.url_hash))
            .take(effectiveBudget(host))
        }
        .sortBy(e => (e.priority, e.depth, e.discovery_ts.getTime, e.seq_in_page, e.url_hash))

      // fetch + extract + discover
      val discoveries = mutable.ArrayBuffer.empty[FrontierEntry]
      scheduled.foreach { e =>
        fetched += e.url_hash
        hostLastTick(e.host) = t
        pageByHash.get(e.url_hash) match {
          case None =>
            crawlOrder += ScheduledRow(t, e.url_hash, e.url, e.host, e.depth, 404, e.seq_in_page)
          case Some(sp) =>
            crawlOrder += ScheduledRow(t, e.url_hash, e.url, e.host, e.depth, 200, e.seq_in_page)
            extractedTexts(e.url_hash) = sp.page.text
            sp.links.zipWithIndex.filter { case (l, _) => linkFilter(l) }.foreach { case (link, j) =>
              val cu = UrlCanonicalizer.canonicalize(link)
              val h = UrlCanonicalizer.urlHash(link)
              discoveries += FrontierEntry(
                h, cu, UrlCanonicalizer.host(cu), e.depth + 1, tickTs(t), j.toLong, e.url_hash, (e.depth + 1).toDouble)
            }
        }
      }

      // first-discovery-wins; within-tick survivor = min(depth, ts, seq, src)
      discoveries
        .groupBy(_.url_hash)
        .foreach { case (h, rows) =>
          if (!frontier.contains(h)) {
            val best = rows.minBy(r => (r.depth, r.discovery_ts.getTime, r.seq_in_page, r.src_hash))
            frontier.put(h, best)
          }
        }
    }

    SimResult(crawlOrder.toVector, frontier.keySet.toSet, extractedTexts.toMap)
  }
}
