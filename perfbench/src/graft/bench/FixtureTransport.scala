package graft.bench

import graft.sources.{TicketApi, TicketTransport}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable

/** Ticket API stand-in for the benchmark: serves the seeded ticket
  * fixture landed for one batch (`fixture` option, a TSV of
  * `uuid, number, createdUs, status, email` sorted by createdUs), with
  * the stub's transient-500 pattern: the first attempt of every fifth
  * page request fails, so the reader's retry path runs as often as it
  * does against `TicketApi`. */
final class FixtureTransport extends TicketTransport {
  private var rows: Array[TicketApi.Ticket] = Array.empty
  private val attempts = mutable.HashMap.empty[(Long, Int), Int]

  override def configure(options: Map[String, String]): Unit =
    rows = FixtureTransport.load(options("fixture"))

  private def lowerBound(us: Long): Int = {
    var lo = 0
    var hi = rows.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (rows(mid).createdUs < us) lo = mid + 1 else hi = mid
    }
    lo
  }

  override def fetchPage(geUs: Long, leUs: Long, page: Int, limit: Int): Seq[TicketApi.Ticket] = {
    val attempt = attempts.getOrElse((geUs, page), 0) + 1
    attempts((geUs, page)) = attempt
    if ((geUs / TicketApi.stepUs + page) % 5 == 2 && attempt == 1) {
      FixtureTransport.retries.incrementAndGet()
      throw TicketApi.ApiError(500)
    }
    FixtureTransport.pages.incrementAndGet()
    val start = lowerBound(geUs) + (page - 1) * limit
    val end = math.min(start + limit, lowerBound(leUs + 1))
    if (start >= end) Nil else rows.slice(start, end).toSeq
  }

  override def statsIn(geUs: Long, leUs: Long): (Long, Long, Long) = {
    val lo = lowerBound(geUs)
    val hi = lowerBound(leUs + 1)
    if (lo >= hi) (0L, 0L, 0L) else (hi - lo, rows(lo).createdUs, rows(hi - 1).createdUs)
  }
}

object FixtureTransport {
  /** Successful page fetches and failed attempts, process-wide. */
  val pages = new AtomicLong
  val retries = new AtomicLong

  private val fixtures = new ConcurrentHashMap[String, Array[TicketApi.Ticket]]()

  /** The landed fixture is the server's data: parsed once per process. */
  def load(path: String): Array[TicketApi.Ticket] =
    fixtures.computeIfAbsent(path, { p =>
      val src = scala.io.Source.fromFile(p, "UTF-8")
      try src.getLines().map(_.split('\t')).map { f =>
        TicketApi.Ticket(f(0), f(1).toLong, f(2).toLong, f(3), f(4))
      }.toArray
      finally src.close()
    })
}
