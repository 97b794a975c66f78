package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import graft.driver.{Crawl, Windows}
import graft.sources.Resilience

/** E2e spec for the composed crawl driver (`EC2/main.py` + `fetcher.py`
  * flow) — fixture fetchers, deterministic clock, driven through
  * [[Windows.step]] like PipelineSpec drives the Lambda ETL. */
class CrawlSpec extends SparkSpec {
  import spark.implicits._

  private val noWait = Resilience.Clock(() => 0L, _ => (), () => 0.5)
  private def limiter = new Resilience.SlidingWindowRateLimiter(
    Seq((1000, 1L)), noWait)
  private def breaker = new Resilience.CircuitBreaker(clock = noWait)

  private def players(rows: (String, String, String, Int)*): DataFrame =
    rows.toDF("puuid", "rank", "tier", "lp")

  test("highEloUnion stops after the rank that reaches the cap; list may overshoot") {
    val fetched = scala.collection.mutable.ListBuffer[String]()
    def fetchRank(r: String): Option[DataFrame] = {
      fetched += r
      Some(Map(
        "challenger" -> players(("p1", "I", "challenger", 900), ("p2", "I", "challenger", 880)),
        "grandmaster" -> players(("p3", "I", "grandmaster", 700), ("p3b", "I", "grandmaster", 690)),
        "master" -> players(("p4", "I", "master", 500))).apply(r))
    }
    val (frames, total) = Crawl.highEloUnion(fetchRank, cap = 3)
    // grandmaster crosses the cap → master never fetched; total overshoots
    assert(fetched.toList == List("challenger", "grandmaster"))
    assert(total == 4 && frames.size == 2)
  }

  test("lowEloUnion paginates until empty and breaks out mid-division at the cap") {
    val calls = scala.collection.mutable.ListBuffer[(String, Int)]()
    def fetchPage(t: String, d: String, page: Int): Option[DataFrame] = {
      calls += ((d, page))
      if (d == "I" && page <= 2)
        Some(players((s"low_${d}_${page}_a", "I", t, 50), (s"low_${d}_${page}_b", "I", t, 40)))
      else Some(players())
    }
    val (frames, total) = Crawl.lowEloUnion(fetchPage, cap = 3, already = 0)
    // page 2 crosses the cap → divisions II/III/IV never probed
    assert(calls.toList == List(("I", 1), ("I", 2)))
    assert(total == 4 && frames.size == 2)
    // already at the cap → no page is ever fetched
    val (none, t2) = Crawl.lowEloUnion(fetchPage, cap = 3, already = 3)
    assert(none.isEmpty && t2 == 3)
  }

  test("lowEloUnion evaluates each page exactly once (ADVICE r09: no isEmpty+count pair)") {
    // pages materialize through a side-effecting RDD map, so every PLAN
    // EVALUATION of a page increments the counter once per row — the
    // old isEmpty-then-count pair scored ~3 per 2-row page, single-count
    // scores exactly 2. The counter lives in a static object (a local
    // AtomicInteger would be serialized INTO the task closure and the
    // task would increment its private copy).
    PageEvalProbe.reset()
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "puuid STRING, rank STRING, tier STRING, lp INT")
    def countingPage(rows: Seq[org.apache.spark.sql.Row]): DataFrame =
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1).map { r =>
          PageEvalProbe.evals.incrementAndGet(); r
        },
        schema)
    def fetchPage(t: String, d: String, page: Int): Option[DataFrame] =
      if (d == "I" && page <= 2)
        Some(countingPage(Seq(
          org.apache.spark.sql.Row(s"low_${d}_${page}_a", "I", t, 50),
          org.apache.spark.sql.Row(s"low_${d}_${page}_b", "I", t, 40))))
      else Some(countingPage(Nil))
    val (frames, total) = Crawl.lowEloUnion(fetchPage,
      tiers = Seq("BRONZE"), divisions = Seq("I"))
    assert(total == 4 && frames.size == 2)
    assert(PageEvalProbe.evals.get() == 4,
      s"4 rows over 2 non-empty pages must evaluate once each; " +
        s"saw ${PageEvalProbe.evals.get()} row evals")
  }

  test("stampedPlayers evolves drifted tier schemas and renames rank (P3/P8)") {
    // the reference's highElo and LowElo entries carry different field
    // sets (league-v4 entries vs challengerleagues entries); the union
    // must null-pad either side, like every heterogeneous append
    val high = Seq(("p1", "I", "challenger", 900)).toDF("puuid", "rank", "tier", "lp")
      .withColumn("_ord", org.apache.spark.sql.functions.lit(0))
    val low = Seq(("p5", "II", "DIAMOND", true)).toDF("puuid", "rank", "tier", "veteran")
      .withColumn("_ord", org.apache.spark.sql.functions.lit(1))
    val stamped = Crawl.stampedPlayers(List(high, low), timestamp = 777L)
    assert(stamped.columns.contains("player_rank") && !stamped.columns.contains("rank"))
    val byId = stamped.collect().map(r => r.getAs[String]("puuid") -> r).toMap
    assert(byId("p1").getAs[Any]("veteran") == null) // high side null-padded
    assert(byId("p5").getAs[Any]("lp") == null)      // low side null-padded
    assert(byId("p5").getAs[Boolean]("veteran"))
    assert(stamped.collect().forall(_.getAs[Long]("time_stamp") == 777L))
  }

  test("rankMap keeps the LAST occurrence of a duplicated puuid (dict-comprehension twin)") {
    val a = players(("dup", "I", "challenger", 900)).withColumn("_ord",
      org.apache.spark.sql.functions.lit(0))
    val b = players(("dup", "I", "grandmaster", 700)).withColumn("_ord",
      org.apache.spark.sql.functions.lit(1))
    val m = Crawl.rankMap(a.unionByName(b)).collect()
    assert(m.length == 1 && m.head.getAs[String]("tier") == "grandmaster")
  }

  test("envelope write retries transport failures and reports exhaustion") {
    val dir = Files.createTempDirectory("graft_env").toString
    val env = Crawl.envelope(
      players(("p1", "I", "challenger", 900))
        .withColumn("_ord", org.apache.spark.sql.functions.lit(0))
        .transform(Crawl.rankMap),
      Seq("m1", "m2", "m1").toDF("matchId"))
    assert(Crawl.writeEnvelopeWithRetry(env, s"$dir/ok.json", clock = noWait))
    // parent is a FILE → every attempt throws → false after the budget
    val blocker = new java.io.File(s"$dir/blocked"); blocker.createNewFile()
    assert(!Crawl.writeEnvelopeWithRetry(env, s"$dir/blocked/x.json", clock = noWait))
  }

  private def seedEnvelope(dir: String, w: Windows.WindowState, ids: Seq[String]): String = {
    val env = Crawl.envelope(
      players(("p1", "I", "challenger", 900))
        .withColumn("_ord", org.apache.spark.sql.functions.lit(0))
        .transform(Crawl.rankMap),
      ids.toDF("matchId"))
    val key = Crawl.envelopeKey(w)
    assert(Crawl.writeEnvelopeWithRetry(env, s"$dir/$key", clock = noWait))
    key
  }

  test("processor flow: batch cadence, no-data skips, player map, matchlist cleanup") {
    val dir = Files.createTempDirectory("graft_proc").toString
    val w = Windows.WindowState(0, 2 * 24 * 3600)
    val key = seedEnvelope(dir, w, (1 to 7).map(i => s"m$i"))
    val landed = scala.collection.mutable.ListBuffer[(String, Int, Seq[String])]()
    val land = (df: DataFrame, kind: String, n: Int) => {
      assert(df.columns.toSet == Set("matchId", "k", "source"))
      assert(df.select("source").as[String].collect().forall(_ == "crawl"))
      landed += ((kind, n, df.select("matchId").as[String].collect().toSeq.sorted)); ()
    }
    def doc(id: String) = s"""{"matchId":"$id","k":1}"""
    def fm(id: String): Resilience.Outcome[String] =
      if (id == "m3") Resilience.Status(404) else Resilience.Ok(doc(id))
    def ft(id: String): Resilience.Outcome[String] = Resilience.Ok(doc(id))
    val rep = Crawl.runProcessor(spark, dir, key, w, fm, ft, limiter, breaker,
      clock = noWait, matchBatchSize = 4, timelineBatchSize = 2, land = land).get
    // m3 404s on the MATCH side → counted no_data, skipped on BOTH sides
    assert(rep.total == 6 && rep.noData == 1)
    // reference cadence at (4, 2): 6 docs → 2 match batches (4 + final 2),
    // 3 timeline batches (2+2 + final 2); the walk follows the envelope's
    // sorted matchlist, so batch k holds the k-th slice of the ok ids
    assert(rep.matchBatches == 2 && rep.timelineBatches == 3)
    assert(landed.collect { case ("match", n, ids) => (n, ids) }.toList == List(
      (1, Seq("m1", "m2", "m4", "m5")), (2, Seq("m6", "m7"))))
    assert(landed.collect { case ("match_timeline", n, ids) => (n, ids) }.toList == List(
      (1, Seq("m1", "m2")), (2, Seq("m4", "m5")), (3, Seq("m6", "m7"))))
    assert(rep.leftoverKey.isEmpty)
    // rank map re-landed under player-maps/, matchlist envelope deleted
    assert(spark.read.json(s"$dir/${rep.playerMapKey}").columns.contains("ranked_map"))
    assert(!new java.io.File(s"$dir/$key").exists())
  }

  test("processor exit-7 analog: a missing or garbage envelope yields None after retries") {
    val dir = Files.createTempDirectory("graft_proc_err").toString
    val w = Windows.WindowState(0, 100)
    def ok(id: String): Resilience.Outcome[String] = Resilience.Ok("{}")
    // missing key: every pull attempt fails → None (manual intervention)
    assert(Crawl.runProcessor(spark, dir, "backfill/matchlists/nope.json", w,
      ok, ok, limiter, breaker, clock = noWait).isEmpty)
    // garbage envelope (json, but not an envelope): rejected, None
    graft.sinks.Writers.jsonDump(Seq((1, "x")).toDF("a", "b"),
      s"$dir/backfill/matchlists/garbage.json")
    assert(Crawl.runProcessor(spark, dir, "backfill/matchlists/garbage.json", w,
      ok, ok, limiter, breaker, clock = noWait).isEmpty)
  }

  test("processor deadline: leftovers keep the CURRENT unprocessed id (fixed off-by-one)") {
    val dir = Files.createTempDirectory("graft_proc_dl").toString
    val w = Windows.WindowState(0, 2 * 24 * 3600)
    val key = seedEnvelope(dir, w, (1 to 7).map(i => s"m$i"))
    // clock starts at 0; after two successful matches the third fetch
    // pushes time past the deadline, so the loop stops AT m3
    var now = 0L
    val ticking = Resilience.Clock(() => now, _ => (), () => 0.5)
    var fetched = 0
    def fm(id: String): Resilience.Outcome[String] = {
      fetched += 1
      if (fetched == 3) now = 100_000_000L // past deadline for next check
      Resilience.Ok(s"""{"matchId":"$id"}""")
    }
    val landed = scala.collection.mutable.ListBuffer[(String, Int, Set[String])]()
    val rep = Crawl.runProcessor(spark, dir, key, w, fm,
      id => Resilience.Ok(s"""{"matchId":"$id"}"""),
      limiter, breaker, deadlineEpoch = 1000L, clock = ticking,
      land = (df, kind, n) => {
        landed += ((kind, n, df.select("matchId").as[String].collect().toSet)); ()
      }).get
    // m1, m2, m3 processed (deadline observed before m4); leftovers start
    // at m4 — the current unprocessed id is NOT lost (processor.py:112
    // saves from i+1 and silently drops it; declared divergence)
    assert(rep.total == 3)
    assert(rep.leftoverKey.isDefined && rep.leftoverKey.get.contains("_4_matches"))
    val rest = spark.read.parquet(s"$dir/${rep.leftoverKey.get}")
      .collect().map(_.getString(0)).toSet
    assert(rest == Set("m4", "m5", "m6", "m7"))
    // the cut walk still flushes its remainders: one batch of each kind
    assert(rep.matchBatches == 1 && rep.timelineBatches == 1)
    assert(landed.toSet == Set(("match", 1, Set("m1", "m2", "m3")),
      ("match_timeline", 1, Set("m1", "m2", "m3"))))
    // matchlist deleted even on the leftover path (stored safely above)
    assert(!new java.io.File(s"$dir/$key").exists())
  }

  test("zero players found: fetcher still lands an empty envelope; processor no-ops on it") {
    val dir = Files.createTempDirectory("graft_empty").toString
    val w = Windows.WindowState(0, 2 * 24 * 3600)
    val key = Crawl.runFetcher(spark, dir, w, maxPlayers = 10, nowEpoch = 1L,
      fetchRank = _ => None, fetchPage = (_, _, _) => Some(players()),
      fetchMatches = (_, _) => fail("no players, no matchList calls"),
      limiter, breaker, clock = noWait)
    assert(key.contains(Crawl.envelopeKey(w)))
    val env = spark.read.json(s"$dir/${key.get}")
    assert(env.count() == 1)
    val rep = Crawl.runProcessor(spark, dir, key.get, w,
      id => Resilience.Ok(s"""{"m":"$id"}"""), id => Resilience.Ok(s"""{"m":"$id"}"""),
      limiter, breaker, clock = noWait, land = (_, _, _) => ()).get
    assert(rep.total == 0 && rep.noData == 0 && rep.leftoverKey.isEmpty)
  }

  test("main run: fetcher → processor → leftovers; the NEXT run drains the deadline tail") {
    val dir = Files.createTempDirectory("graft_main").toString
    val day = 24 * 3600L
    def doc(id: String) = s"""{"matchId":"$id"}"""
    var now = 0L
    val ticking = Resilience.Clock(() => now, _ => (), () => 0.5)
    var fetched = 0
    val src1 = Crawl.Sources(
      fetchRank = r => if (r == "challenger")
        Some(players(("p1", "I", "challenger", 900), ("p2", "I", "challenger", 880)))
        else Some(players()),
      fetchPage = (_, _, _) => Some(players()),
      fetchMatchList = (p, _) =>
        Resilience.Ok(if (p == "p1") Seq("m1", "m2", "m3", "m4") else Seq("m3", "m5", "m6")),
      fetchMatch = id => {
        fetched += 1
        if (fetched == 4) now = 100_000_000L // deadline passes after m4
        Resilience.Ok(doc(id))
      },
      fetchTimeline = id => Resilience.Ok(doc(id)))
    val w1 = Windows.WindowState(2 * day, 4 * day)
    val (key1, rep1, red1) = Crawl.run(spark, dir, w1, maxPlayers = 5,
      nowEpoch = 4 * day, src1, limiter, breaker, deadlineEpoch = 1000L,
      clock = ticking)
    assert(key1.isDefined)
    // processor walked m1..m4 of the deduped sorted list m1..m6, then hit
    // the deadline: m5, m6 landed as leftovers
    assert(rep1.get.total == 4 && rep1.get.leftoverKey.isDefined)
    // the same run's leftover phase is already past the deadline: the
    // fresh file is rewritten with its own (unshrunk) tail, not drained
    assert(red1.map(_.drained) == Seq(false))
    // default landing: one directory per batch, keyed by the run's window
    val b1 = spark.read.json(s"$dir/match/batch_${2 * day}_${4 * day}_1")
    assert(b1.columns.toSet == Set("matchId", "source"))
    assert(b1.select("matchId").as[String].collect().sorted.toSeq ==
      Seq("m1", "m2", "m3", "m4"))
    // run 2, next window, new ids to crawl, fresh time budget: the
    // processor lands m7, m8 and the leftover phase drains run 1's tail
    val src2 = src1.copy(
      fetchMatchList = (_, _) => Resilience.Ok(Seq("m7", "m8")),
      fetchMatch = id => Resilience.Ok(doc(id)))
    val (key2, rep2, red2) = Crawl.run(spark, dir, Windows.WindowState(4 * day, 6 * day),
      maxPlayers = 5, nowEpoch = 6 * day, src2, limiter, breaker, clock = noWait)
    assert(key2.isDefined && rep2.get.total == 2)
    assert(red2.map(r => (r.total, r.drained)) == Seq((2, true)))
    val loDir = new java.io.File(s"$dir/backfill/leftovers")
    assert(!Option(loDir.listFiles()).getOrElse(Array.empty)
      .exists(_.getName.endsWith("_matches")), "drained leftover file must be deleted")
    // run 2 landed beside run 1, not over it: every id either run walked
    // is on disk exactly once per kind
    Seq("match", "match_timeline").foreach { kind =>
      val ids = spark.read.json(s"$dir/$kind/*").select("matchId").as[String].collect()
      assert(ids.sorted.toSeq == (1 to 8).map(i => s"m$i"), s"$kind: ${ids.sorted.toSeq}")
    }
  }

  /** The re-drive contract over leftover files in a fresh local directory,
    * handed to `runLeftovers` as `root(dir)`. */
  private def checkRedrive(root: String => String): Unit = {
    import graft.sinks.Writers
    val dir = Files.createTempDirectory("graft_redrive").toString
    val lo = s"$dir/backfill/leftovers"
    Writers.saveLeftovers(Seq("a1", "a2").toDF("key"), s"$lo/leftovers_0_100_2_matches")
    Writers.saveLeftovers(Seq("b1", "b2", "b3").toDF("key"), s"$lo/leftovers_100_200_3_matches")
    Writers.saveLeftovers(Seq("c1").toDF("key"), s"$lo/leftovers_200_300_1_matches")
    // fetcher-side PLAYER leftovers are not match ids: must be ignored
    Writers.saveLeftovers(Seq("p9").toDF("key"), s"$lo/players")
    def ok(id: String): Resilience.Outcome[String] = Resilience.Ok(s"""{"matchId":"$id"}""")
    val w1 = Windows.WindowState(300, 400)
    // test mode skips everything (leftover.py:31-35)
    assert(Crawl.runLeftovers(spark, root(dir), w1, ok, ok, limiter, breaker,
      clock = noWait, testMode = true).isEmpty)
    assert(spark.read.parquet(s"$lo/leftovers_0_100_2_matches").count() == 2)
    // deadline hits after a1, a2, b1: file A drains, B is cut at b2
    var now = 0L
    val ticking = Resilience.Clock(() => now, _ => (), () => 0.5)
    var fetched = 0
    def fm(id: String): Resilience.Outcome[String] = {
      fetched += 1
      if (fetched == 3) now = 100_000_000L
      ok(id)
    }
    val reps = Crawl.runLeftovers(spark, root(dir), w1, fm, ok, limiter, breaker,
      deadlineEpoch = 1000L, clock = ticking)
    assert(reps.map(r => (r.file, r.total, r.drained)) == Seq(
      ("leftovers_0_100_2_matches", 2, true),
      ("leftovers_100_200_3_matches", 1, false)))
    // A deleted; B overwritten in place with its tail; C and players untouched
    assert(!new java.io.File(s"$lo/leftovers_0_100_2_matches").exists())
    assert(spark.read.parquet(s"$lo/leftovers_100_200_3_matches")
      .collect().map(_.getString(0)).toSet == Set("b2", "b3"))
    assert(spark.read.parquet(s"$lo/leftovers_200_300_1_matches").count() == 1)
    assert(spark.read.parquet(s"$lo/players").count() == 1)
    assert(new java.io.File(
      s"$dir/match/redrive_300_400_leftovers_100_200_3_matches_1").isDirectory)
    // a later run re-drives the same cut file B: its batch lands beside
    // the first run's, so every re-driven id stays on disk exactly once
    val reps2 = Crawl.runLeftovers(spark, root(dir), Windows.WindowState(400, 500),
      ok, ok, limiter, breaker, clock = noWait)
    assert(reps2.map(r => (r.file, r.total, r.drained)) == Seq(
      ("leftovers_100_200_3_matches", 2, true), ("leftovers_200_300_1_matches", 1, true)))
    val landed = spark.read.json(s"$dir/match/*").select("matchId").as[String].collect()
    assert(landed.sorted.toSeq == Seq("a1", "a2", "b1", "b2", "b3", "c1"))
  }

  test("leftover re-drive: drain deletes, deadline overwrites in place, rest untouched") {
    checkRedrive(identity)
  }

  test("leftover re-drive under a file: URI root lists and drains through FileSystem") {
    checkRedrive(dir => new java.io.File(dir).toURI.toString.stripSuffix("/"))
  }

  test("fetcher flow e2e through Windows.step: cap, pre-truncation rank map, retry, dedup, leftovers") {
    val dir = Files.createTempDirectory("graft_crawl").toString
    val statePath = s"$dir/state.json"
    val day = 24 * 3600L
    def fetchRank(r: String): Option[DataFrame] = Some(Map(
      "challenger" -> players(("p1", "I", "challenger", 900), ("p2", "I", "challenger", 880)),
      "grandmaster" -> players(("p3", "I", "grandmaster", 700), ("p3b", "I", "grandmaster", 690)),
      "master" -> players(("p4", "I", "master", 500))).apply(r))
    val pageCalls = new java.util.concurrent.atomic.AtomicInteger(0)
    def fetchPage(t: String, d: String, p: Int): Option[DataFrame] = {
      pageCalls.incrementAndGet(); Some(players())
    }
    // p2's first attempt is rate-limited (guardedFetch must retry), p3
    // 404s (client error: fail fast → leftover), the rest succeed
    val p2Attempts = new java.util.concurrent.atomic.AtomicInteger(0)
    def fetchMatches(p: String, w: Windows.WindowState): Resilience.Outcome[Seq[String]] = {
      assert(w.startEpoch == 2 * day && w.endEpoch == 4 * day) // window reaches the source
      p match {
        case "p1" => Resilience.Ok(Seq("m1", "m2"))
        case "p2" =>
          if (p2Attempts.getAndIncrement() == 0)
            Resilience.Status(429, retryAfterSec = Some(0))
          else Resilience.Ok(Seq("m2", "m3"))
        case "p3" => Resilience.Status(404)
        case other => fail(s"capped-out player fetched: $other")
      }
    }
    val advanced = Windows.step(statePath, nowEpoch = 4 * day,
      bootstrap = Windows.WindowState(0, 2 * day)) { w =>
      val key = Crawl.runFetcher(spark, dir, w, maxPlayers = 3, nowEpoch = 4 * day,
        fetchRank, fetchPage, fetchMatches, limiter, breaker, clock = noWait)
      assert(key.contains(s"backfill/matchlists/match_ids_${2 * day}_${4 * day}_.json"))
    }
    assert(advanced.contains(Windows.WindowState(2 * day, 4 * day)))
    // cap=3 reached in the high tiers → low-elo pagination never probed
    assert(pageCalls.get() == 0)
    val env = spark.read.json(s"$dir/backfill/matchlists/match_ids_${2 * day}_${4 * day}_.json")
    val row = env.head()
    // dedup: m2 appears from both p1 and p2, once in the envelope
    assert(row.getAs[scala.collection.Seq[String]]("matchlist").toSeq ==
      Seq("m1", "m2", "m3"))
    // rank map is built from the FULL pre-truncation list: p3b is in the
    // map even though the fan-out stopped at 3 players (and master was
    // never fetched — the cap stopped the ladder at grandmaster, exactly
    // the reference's break)
    val mapped = env.select("ranked_map.*").schema.fieldNames.toSet
    assert(mapped == Set("p1", "p2", "p3", "p3b"))
    assert(env.select("ranked_map.p3b.player_rank").head().getString(0) == "I")
    // the 404'd player landed as a K8 leftover for the next run's re-drive
    val leftovers = spark.read.parquet(s"$dir/backfill/leftovers/players")
      .collect().map(_.getString(0)).toSet
    assert(leftovers == Set("p3"))
    // the fan-out itself: one outcome per player in input order; the 404
    // is Failed at once, the rest carry their ids
    assert(Crawl.fetchMatchLists(Seq("p1", "p3"), Windows.WindowState(2 * day, 4 * day),
      fetchMatches, limiter, breaker, clock = noWait) ==
      Seq(Crawl.Matches("p1", Seq("m1", "m2")), Crawl.Failed("p3")))
    // state persisted only after the fetcher succeeded
    assert(graft.sinks.Writers.readState(statePath).contains((2 * day, 4 * day)))
  }
}

/** Static page-evaluation counter. Closures reference this singleton by
  * class — object members are not serialized with the closure — so in
  * local mode the tasks and the asserting test share one counter (a
  * captured AtomicInteger would be a per-task copy). */
object PageEvalProbe {
  val evals = new java.util.concurrent.atomic.AtomicInteger(0)
  def reset(): Unit = evals.set(0)
}
