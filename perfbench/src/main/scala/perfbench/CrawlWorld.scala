package perfbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.driver.{Crawl, Windows}
import graft.sources.Resilience

/** The `crawl_ingest` input: a seeded Riot-like API served in process.
  *
  * A player pool is spread over the rank ladder (three high-elo rank pages,
  * then paged DIAMOND divisions). Each 2-day window holds `matchesPerWindow`
  * matches of ten pool players each, so the match lists of different
  * players overlap and the crawl's id dedup has real work. A seeded share
  * of fetches answer 404, 429 or 5xx.
  *
  * Time is virtual: `sleepMs` advances the clock and never blocks, so the
  * reference's development-key limits (20 per 1 s, 100 per 120 s) are
  * enforced and counted but cost no wall time. */
final class CrawlWorld(val seed: Long, val size: CrawlWorld.Size) {
  import CrawlWorld._

  val pool: IndexedSeq[Player] = {
    val high = HighRanks.flatMap { case (rank, n) =>
      (0 until n).map(i => Player(f"$rank%s-$i%03d-${seed & 0xFFFF}%04x", rank.toUpperCase, "I"))
    }
    val low = for {
      dv <- Crawl.LowDivisions
      i <- 0 until size.lowPerDivision
    } yield Player(f"diamond-$dv%s-$i%03d-${seed & 0xFFFF}%04x", "DIAMOND", dv)
    (high ++ low).toIndexedSeq
  }

  /** Matches of window `w` (0-based): id, creation ms, participant puuids. */
  def matches(w: Int): IndexedSeq[(String, Long, IndexedSeq[String])] = {
    val win = window(w)
    (0 until size.matchesPerWindow).map { j =>
      val id = f"NA1_${w + 1}%d${j}%06d"
      val creation = win.startEpoch * 1000L +
        (Riot.unit(seed, w, j, 1) * (win.endEpoch - win.startEpoch) * 1000L).toLong
      (id, creation, tenOf(w, j))
    }
  }

  private def tenOf(w: Int, j: Int): IndexedSeq[String] = {
    val picked = mutable.LinkedHashSet.empty[Int]
    var draw = 0
    while (picked.size < 10) {
      picked += Riot.pick(seed, pool.length, w, j, 2, draw)
      draw += 1
    }
    picked.toIndexedSeq.map(pool(_).puuid)
  }

  /** Every match of both windows: a re-driven leftover is fetched during
    * the next window's run. */
  private lazy val docs: Map[String, (Long, IndexedSeq[String])] =
    (0 until 2).flatMap(matches).map { case (id, c, ps) => id -> (c, ps) }.toMap

  def window(w: Int): Windows.WindowState = {
    val start = BaseEpoch + w * Windows.NormalStepSec
    Windows.WindowState(start, start + Windows.NormalStepSec)
  }

  /** One window's API, with its own call counters. */
  def api(spark: SparkSession, w: Int, clock: VirtualClock, stallShare: Option[Double]): Api =
    new Api(spark, w, clock, stallShare)

  /** Window `w`'s API. With `stallShare`, the API stalls for a day once
    * that share of the listed ids has been fetched, which carries the walk
    * past a deadline set within the day. */
  final class Api(spark: SparkSession, w: Int, clock: VirtualClock, stallShare: Option[Double]) {
    import spark.implicits._
    private val listsByPlayer: Map[String, Seq[String]] =
      matches(w).flatMap { case (id, _, ps) => ps.map(_ -> id) }
        .groupBy(_._1).map { case (p, xs) => p -> xs.map(_._2).sorted }

    var calls = 0L
    private val attempts = mutable.HashMap.empty[(Int, String), Int]
    /** Ids the match-list API served, so the envelope's expected content. */
    val listed = mutable.HashSet.empty[String]
    /** Whether the latest match/timeline fetch of an id answered 200. */
    val lastOk = mutable.HashMap.empty[(Int, String), Boolean]

    /** Wall time (epoch ms) of the latest call each crawl phase made:
      * rank, page and match-list calls are the fetcher's; match and
      * timeline calls for this window's ids the processor's, for other
      * windows' ids the leftover re-drive's. */
    val lastCallMs = mutable.HashMap.empty[String, Long]
    private def called(phase: String): Unit = {
      calls += 1
      lastCallMs(phase) = System.currentTimeMillis()
    }
    private val ownPrefix = f"NA1_${w + 1}%d"

    private var matchIds = 0
    def retries: Long = attempts.values.map(n => (n - 1).toLong).sum
    def distinctCalls(kind: Int): Int = attempts.keys.count(_._1 == kind)

    private def outcome[A](kind: Int, key: String, body: => A): Resilience.Outcome[A] = {
      called(if (kind == ListKind) Fetcher
        else if (key.startsWith(ownPrefix)) Processor else Leftovers)
      val attempt = attempts.getOrElse((kind, key), 0)
      attempts((kind, key)) = attempt + 1
      val u = Riot.unit(seed, kind, key.hashCode.toLong, 7)
      val out: Resilience.Outcome[A] =
        if (u < 0.02) Resilience.Status(404)
        else if (u < 0.05 && attempt == 0)
          Resilience.Status(429, retryAfterSec = Some(1), rateLimitType = Some("application"))
        else if (u < 0.07 && attempt == 0) Resilience.Status(503)
        else if (u < 0.075) Resilience.Status(500)
        else Resilience.Ok(body)
      if (kind != ListKind) lastOk((kind, key)) = out.isInstanceOf[Resilience.Ok[_]]
      out
    }

    private def page(ps: Seq[Player]): DataFrame =
      ps.map(p => (p.puuid, p.rank, p.tier,
        Riot.pick(seed, 2000, p.puuid.hashCode.toLong, 1),
        Riot.pick(seed, 400, p.puuid.hashCode.toLong, 2),
        Riot.pick(seed, 400, p.puuid.hashCode.toLong, 3)))
        .toDF("puuid", "rank", "tier", "leaguePoints", "wins", "losses")

    val sources: Crawl.Sources = Crawl.Sources(
      fetchRank = rank => { called(Fetcher); Some(page(pool.filter(_.tier == rank.toUpperCase))) },
      fetchPage = (tier, division, n) => {
        called(Fetcher)
        val all = pool.filter(p => p.tier == tier && p.rank == division)
        Some(page(all.slice((n - 1) * PageSize, n * PageSize)))
      },
      fetchMatchList = (puuid, _) => {
        val ids = listsByPlayer.getOrElse(puuid, Nil)
        val out = outcome(ListKind, puuid, ids)
        if (out.isInstanceOf[Resilience.Ok[_]]) listed ++= ids
        out
      },
      fetchMatch = id => {
        if (!attempts.contains((MatchKind, id))) {
          matchIds += 1
          if (stallShare.exists(s => matchIds == math.max(1, math.round(s * listed.size).toInt)))
            clock.nowMs += StallMs
        }
        outcome(MatchKind, id, {
        val (c, ps) = docs(id)
        Riot.matchDoc(seed, id, c, ps, source = None)
      })
      },
      fetchTimeline = id => outcome(TimelineKind, id, {
        val (c, ps) = docs(id)
        Riot.timelineDoc(seed, id, c, ps, size.frames)
      }))
  }

}

object CrawlWorld {
  final case class Player(puuid: String, tier: String, rank: String)
  final case class Size(matchesPerWindow: Int, frames: Int, lowPerDivision: Int,
      maxPlayers: Int)

  val BaseEpoch = 1751328000L // 2025-07-01T00:00:00Z
  val PageSize = 10
  /** Rank pages in ladder order with their sizes. The cap is set so the
    * three high-elo pages fall short of it and the DIAMOND pages fill it. */
  val HighRanks: Seq[(String, Int)] = Seq("challenger" -> 30, "grandmaster" -> 40,
    "master" -> 50)
  val Fetcher = "fetcher"
  val Processor = "processor"
  val Leftovers = "leftovers"
  val ListKind = 0
  val MatchKind = 1
  val TimelineKind = 2
  /** The reference's development-key limits (`Utils/api.py`). */
  val DevKeyLimits: Seq[(Int, Long)] = Seq((20, 1L), (100, 120L))
  /** A stalled API answers a day later; a deadline half a day after the
    * window's start falls inside the stall. */
  val StallMs: Long = 24L * 3600 * 1000
  val DeadlineAfterSec: Long = 12L * 3600

  /** Virtual time: sleeping only moves the clock forward. */
  final class VirtualClock(startMs: Long, seed: Long) {
    var nowMs: Long = startMs
    var waitedMs: Long = 0L
    private val rng = new java.util.SplittableRandom(seed)
    val clock: Resilience.Clock = Resilience.Clock(
      () => nowMs,
      ms => if (ms > 0) { nowMs += ms; waitedMs += ms },
      () => rng.nextDouble())
  }
}
