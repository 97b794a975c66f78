package graft.driver

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Evolve
import graft.sources.Resilience
import graft.sinks.Writers

/** The composed crawl driver — the reference's EC2 fetcher flow
  * (`EC2/main.py:9-48`, `EC2/fetcher.py:21-180`) as ONE tested
  * composition of the library's connector and operator pieces: tier
  * union with the cap semantics (S3/P7) → low-elo pagination (S4) →
  * rank stamp (P3) → puuid rank map (the `player_rank_map` analog) →
  * player-list truncation (L1) → windowed per-player matchList fan-out
  * under [[Resilience.guardedFetch]] → match-id dedup (A1) → envelope
  * write with retry (`fetcher.py:139-170`) → failed-player leftover
  * persistence (K8) → the processor's match walk, landing 200/50-doc
  * batches under `outRoot/<type>/batch_<start>_<end>_<n>` (one key per
  * run window, so consecutive runs into one root keep every batch).
  * CrawlSpec drives the whole flow over fixture fetchers through
  * [[Windows.step]], like PipelineSpec does for the Lambda ETL.
  *
  * Spark-first split of labor: the page/tier FETCHES are driver-side
  * externals (a rate-limited REST API is inherently sequential — same
  * rationale as [[graft.sources.Paginate]]), injected as functions so
  * specs drive fixtures and production drives HTTP; everything the
  * engine can own — unions, stamps, the rank map, dedup, the envelope —
  * is lazy DataFrame composition, evaluated as one plan at the write.
  * Driver-side row counts exist only where the reference's own control
  * flow needs them (the cap check between fetches), and are bounded by
  * the API page size × pages fetched, never by corpus scale.
  */
object Crawl {

  /** Injected externals for one crawl run — the REST surface the
    * reference wraps in `Utils/api.py`, as functions so specs drive
    * fixtures and production drives HTTP. */
  final case class Sources(
      fetchRank: String => Option[DataFrame],
      fetchPage: (String, String, Int) => Option[DataFrame],
      fetchMatchList: (String, Windows.WindowState) => Resilience.Outcome[Seq[String]],
      fetchMatch: String => Resilience.Outcome[String],
      fetchTimeline: String => Resilience.Outcome[String])

  /** The reference's tier ladder (`fetcher.py:33-35`). */
  val HighRanks: Seq[String] = Seq("challenger", "grandmaster", "master")
  val LowTiers: Seq[String] = Seq("DIAMOND")
  val LowDivisions: Seq[String] = Seq("I", "II", "III", "IV")

  /** S3 + P7 with the reference's cap semantics (`fetcher.py:40-58`):
    * ranks fetched IN ORDER, and collection stops after the FIRST rank
    * that reaches the cap — the collected list may exceed the cap until
    * the final truncation (the rank map is deliberately built from the
    * full pre-truncation list, `fetcher.py:105`). Each fetched frame is
    * stamped with its fetch position `_ord` — the lineage that stands in
    * for the reference's list order when later stages need determinism.
    * Returns (frames in fetch order, running row count). */
  def highEloUnion(fetchRank: String => Option[DataFrame],
      ranks: Seq[String] = HighRanks, cap: Long = Long.MaxValue,
      startOrd: Int = 0): (List[DataFrame], Long) = {
    var total = 0L
    val out = scala.collection.mutable.ListBuffer[DataFrame]()
    val it = ranks.iterator
    while (it.hasNext && total < cap) {
      fetchRank(it.next()).foreach { df =>
        val stamped = df.withColumn("_ord", lit(startOrd + out.size))
        out += stamped
        total += df.count()
      }
    }
    (out.toList, total)
  }

  /** S4 with the cap woven through the page loop (`fetcher.py:61-90`):
    * per (tier, division), page++ until the first empty page, breaking
    * out of EVERYTHING the moment the cap is reached — mid-division,
    * mid-page-sequence, exactly like the reference's triple break. */
  def lowEloUnion(fetchPage: (String, String, Int) => Option[DataFrame],
      tiers: Seq[String] = LowTiers, divisions: Seq[String] = LowDivisions,
      cap: Long = Long.MaxValue, already: Long = 0L,
      startOrd: Int = 0): (List[DataFrame], Long) = {
    var total = already
    val out = scala.collection.mutable.ListBuffer[DataFrame]()
    for (t <- tiers; dv <- divisions if total < cap) {
      var page = 1
      var continue = true
      while (continue && total < cap) {
        fetchPage(t, dv, page) match {
          case Some(df) =>
            // ONE evaluation per page: the count both decides emptiness
            // and advances the cap (an isEmpty + count pair would run
            // every page's plan twice — ADVICE r09)
            val n = df.count()
            if (n > 0) {
              out += df.withColumn("_ord", lit(startOrd + out.size))
              total += n
              page += 1
            } else continue = false
          case None => continue = false
        }
      }
    }
    (out.toList, total)
  }

  /** P3 stamp + rename (`fetcher.py:99-103`): one collection timestamp
    * on every row, `rank` renamed to `player_rank`. Schema drift across
    * tier endpoints evolves via [[Evolve.unionEvolve]] (P8), like every
    * heterogeneous append in the library. */
  def stampedPlayers(frames: List[DataFrame], timestamp: Long): DataFrame =
    Evolve.unionEvolve(frames)
      .withColumn("time_stamp", lit(timestamp))
      .withColumnRenamed("rank", "player_rank")

  /** The `player_rank_map` analog (`fetcher.py:105`): one row per puuid
    * over the FULL pre-truncation list. The reference's dict
    * comprehension keeps the LAST occurrence of a duplicated puuid; the
    * deterministic engine twin is max-`_ord` wins (fetch order is the
    * only order the reference has). In Spark the keyed frame IS the
    * map — E7's map-explode is its inverse. */
  def rankMap(stamped: DataFrame): DataFrame = {
    val latest = stamped.groupBy(col("puuid")).agg(max(col("_ord")).as("_ord"))
    stamped.join(latest, Seq("puuid", "_ord"), "left_semi").drop("_ord")
      // a puuid duplicated WITHIN one page survives the max-_ord filter
      // and would blow up the envelope's map (duplicate map keys raise
      // under Spark's default dedup policy); within a page the reference
      // has no defined order either, so any single row is the twin
      .dropDuplicates("puuid")
  }

  /** L1 truncation to the configured cap (`fetcher.py:106`): the
    * reference truncates its fetch-ordered list, so the deterministic
    * order is (_ord, puuid) — fetch position first, key tie-break. */
  def truncatePlayers(stamped: DataFrame, maxPlayers: Int): DataFrame =
    stamped.orderBy(col("_ord"), col("puuid")).limit(maxPlayers)

  /** One player's matchList outcome in the fan-out. */
  sealed trait MatchFetch
  final case class Matches(puuid: String, ids: Seq[String]) extends MatchFetch
  final case class Failed(puuid: String) extends MatchFetch

  /** The windowed matchList fan-out (`fetcher.py:111-133`): one guarded
    * fetch per capped player, window bounds passed through to the
    * source. Failures don't abort the crawl — they are returned for
    * leftover persistence (the reference logs via `handle_api_response`
    * and carries on; landing them as a K8 leftover dataset is this
    * library's re-drive contract, `EC2/leftover.py`'s shape). The loop
    * is driver-side and bounded by `maxPlayers` — the same bound the
    * reference's sequential REST loop has. */
  def fetchMatchLists(puuids: Seq[String], window: Windows.WindowState,
      fetch: (String, Windows.WindowState) => Resilience.Outcome[Seq[String]],
      limiter: Resilience.SlidingWindowRateLimiter,
      breaker: Resilience.CircuitBreaker,
      maxRetries: Int = 3,
      clock: Resilience.Clock = Resilience.Clock.system): Seq[MatchFetch] =
    puuids.map { p =>
      Resilience.guardedFetch(limiter, breaker, maxRetries, clock)(
        _ => fetch(p, window)) match {
        case Some(ids) => Matches(p, ids)
        case None => Failed(p)
      }
    }

  /** The envelope the fetcher uploads (`fetcher.py:141-146`): ONE row
    * `{ranked_map: {puuid: stats…}, matchlist: [distinct ids]}` — the
    * rank map as a JSON object keyed by puuid, the match ids deduped
    * (A1 `set(matchesList)`). Bounded by construction: one window's
    * crawl output, the thing the reference holds in driver memory too. */
  def envelope(rankMapDf: DataFrame, matchIds: DataFrame): DataFrame = {
    val statCols = rankMapDf.columns.filterNot(_ == "puuid")
    val stats = struct(statCols.toSeq.map(col): _*)
    rankMapDf
      .agg(map_from_entries(collect_list(struct(col("puuid"), stats))).as("ranked_map"))
      .crossJoin(
        matchIds.distinct().agg(sort_array(collect_list(col("matchId"))).as("matchlist")))
      // the reference's envelope metadata carries match_count
      // (`Utils/S3.py:113-123`); it also makes the EMPTY envelope
      // round-trippable — JSON schema inference drops fields that only
      // ever hold {} or [], but a count always survives
      .withColumn("match_count", size(col("matchlist")).cast("long"))
  }

  /** The envelope key (`fetcher.py:139`). */
  def envelopeKey(w: Windows.WindowState): String =
    s"backfill/matchlists/match_ids_${w.startEpoch}_${w.endEpoch}_.json"

  /** Upload with retry (`fetcher.py:148-170`: 3 attempts, fixed 30 s
    * waits): re-expressed on [[Resilience.fetchWithBackoff]] — same
    * attempt budget, exponential-with-jitter waits instead of the fixed
    * 30 s (the library's one backoff discipline; a declared divergence).
    * Returns false when every attempt failed (the reference exits 1). */
  def writeEnvelopeWithRetry(env: DataFrame, path: String, maxRetries: Int = 3,
      clock: Resilience.Clock = Resilience.Clock.system): Boolean =
    Resilience.fetchWithBackoff(maxRetries, clock) { _ =>
      try { Writers.jsonDump(env, path); Resilience.Ok(()) }
      catch { case e: Exception => Resilience.TransportError(e) }
    }.isDefined

  /** One processor run's outcome (`run_processor`'s end-of-job report,
    * `EC2/processor.py:240-256`). */
  final case class ProcessorReport(total: Int, noData: Int, matchBatches: Int,
      timelineBatches: Int, leftoverKey: Option[String], playerMapKey: String)

  /** The processor flow (`EC2/processor.py:28-256`): pull the fetcher's
    * envelope (retried — the exit-7 manual-intervention path is `None`),
    * re-land the rank map under `player-maps/`, then walk the matchlist
    * under a DEADLINE (the API-key-expiration analog): per id, guarded
    * match + timeline fetches (either failing ⇒ the id is counted
    * `no_data` and skipped, `processor.py:134-139`), source-stamped
    * documents accumulated and flushed through `land` in the reference's
    * batch cadence — 200 matches, 50 timelines, remainders at the end.
    * Hitting the deadline (or an unhandled error) persists every
    * not-yet-processed id under `backfill/leftovers/` for the re-drive
    * loop and stops. The matchlist envelope is deleted afterwards —
    * fully processed or safely in leftovers either way
    * (`processor.py:243`).
    *
    * DECLARED DIVERGENCE: on deadline/error at position i the reference
    * saves ids from i+1 on, silently losing the CURRENT unprocessed id
    * (`processor.py:112,183`); leftovers here start at i — the fixed
    * semantics, with this note standing in for a faithful twin (the
    * quirk is driver control flow, not data transformation, so there is
    * no oracle row to twin).
    *
    * `land` receives (parsed batch, data_collection_type, batch index)
    * — production lands hive-partitioned envelopes via [[Writers]]; the
    * default dumps JSON under `outRoot/<type>/batch_<start>_<end>_<n>`,
    * keyed by the run's window so a later run into the same root never
    * overwrites an earlier run's batches (the reference's S3 keys carry
    * a timestamp for the same reason, `Utils/S3.py:101-109`). The fetch
    * loop is driver-side and rate-limited like the reference's; each
    * flushed batch is a distributed parse+write. */
  def runProcessor(spark: SparkSession, outRoot: String, matchlistKey: String,
      window: Windows.WindowState,
      fetchMatch: String => Resilience.Outcome[String],
      fetchTimeline: String => Resilience.Outcome[String],
      limiter: Resilience.SlidingWindowRateLimiter,
      breaker: Resilience.CircuitBreaker,
      deadlineEpoch: Long = Long.MaxValue,
      clock: Resilience.Clock = Resilience.Clock.system,
      source: String = "crawl",
      matchBatchSize: Int = 200, timelineBatchSize: Int = 50,
      land: (org.apache.spark.sql.DataFrame, String, Int) => Unit = null): Option[ProcessorReport] = {
    import spark.implicits._
    val landFn = Option(land).getOrElse {
      (df: DataFrame, kind: String, n: Int) =>
        Writers.jsonDump(df,
          s"$outRoot/$kind/batch_${window.startEpoch}_${window.endEpoch}_$n")
    }
    val env = pullEnvelope(spark, outRoot, matchlistKey, clock)
      .getOrElse(return None)
    val pmKey = landPlayerMap(spark, outRoot, env, window)
    val ids =
      if (env.columns.contains("matchlist"))
        env.select(explode(col("matchlist")).as("m")).as[String].collect()
      else Array.empty[String]

    val walk = walkMatches(spark, ids.toSeq, fetchMatch, fetchTimeline, limiter,
      breaker, deadlineEpoch, clock, source, matchBatchSize, timelineBatchSize,
      landFn)
    val leftoverKey = if (walk.unprocessed.nonEmpty) {
      val key = s"backfill/leftovers/leftovers_${window.startEpoch}_" +
        s"${window.endEpoch}_${walk.unprocessed.length}_matches"
      Writers.saveLeftovers(walk.unprocessed.toDF("key"), s"$outRoot/$key")
      Some(key)
    } else None
    // fully processed or safely in leftovers: drop the matchlist either way
    Writers.deletePath(spark, s"$outRoot/$matchlistKey")
    Some(ProcessorReport(walk.total, walk.noData, walk.matchBatches,
      walk.timelineBatches, leftoverKey, pmKey))
  }

  /** Envelope pull, retried like the upload (`processor.py:37-61`): the
    * exit-7 manual-intervention path is `None`. `match_count` is the
    * always-inferrable marker — an empty crawl's ranked_map/matchlist
    * hold only {}/[] and JSON inference drops such fields, so their
    * ABSENCE is legal when match_count says so. */
  private def pullEnvelope(spark: SparkSession, outRoot: String,
      matchlistKey: String, clock: Resilience.Clock): Option[DataFrame] =
    Resilience.fetchWithBackoff(3, clock) { _ =>
      try {
        val e = spark.read.json(s"$outRoot/$matchlistKey")
        require(e.columns.contains("match_count"),
          s"malformed matchlist envelope at $matchlistKey")
        val n = e.select(col("match_count")).head().getLong(0)
        require(n == 0 ||
          (e.columns.contains("matchlist") && e.columns.contains("ranked_map")),
          s"envelope at $matchlistKey claims $n matches but lacks the fields")
        Resilience.Ok(e)
      } catch { case ex: Exception => Resilience.TransportError(ex) }
    }

  /** Re-land the rank map under `player-maps/` (`processor.py:63-71`). */
  private def landPlayerMap(spark: SparkSession, outRoot: String,
      env: DataFrame, window: Windows.WindowState): String = {
    val pmKey = s"player-maps/player-map_${window.startEpoch}_${window.endEpoch}_.json"
    Writers.jsonDump(
      if (env.columns.contains("ranked_map")) env.select(col("ranked_map"))
      else spark.sql("SELECT map() AS ranked_map"),
      s"$outRoot/$pmKey")
    pmKey
  }

  /** Outcome of one matchlist walk. `unprocessed` is non-empty iff the
    * deadline cut the walk short — it starts at the CURRENT id (see the
    * declared divergence on [[runProcessor]]). */
  private[graft] final case class Walk(total: Int, noData: Int, matchBatches: Int,
      timelineBatches: Int, unprocessed: Seq[String])

  /** The shared per-id walk of `run_processor` and `run_leftovers`
    * (`processor.py:95-233`, `leftover.py:68-180`): deadline check →
    * guarded match+timeline fetch → skip-on-no-data → source-stamped
    * batch flushes in the reference cadence, remainders at the end. */
  private[graft] def walkMatches(spark: SparkSession, ids: Seq[String],
      fetchMatch: String => Resilience.Outcome[String],
      fetchTimeline: String => Resilience.Outcome[String],
      limiter: Resilience.SlidingWindowRateLimiter,
      breaker: Resilience.CircuitBreaker,
      deadlineEpoch: Long, clock: Resilience.Clock, source: String,
      matchBatchSize: Int, timelineBatchSize: Int,
      land: (DataFrame, String, Int) => Unit): Walk = {
    import spark.implicits._
    var total = 0; var noData = 0
    var matchBatch = List.empty[String]; var timelineBatch = List.empty[String]
    var matchBatches = 0; var timelineBatches = 0
    var unprocessed = Seq.empty[String]
    def parse(docs: List[String]): DataFrame =
      spark.read.json(docs.reverse.toDS()).withColumn("source", lit(source))
    var i = 0
    while (i < ids.length && unprocessed.isEmpty) {
      if (clock.nowMs() / 1000 >= deadlineEpoch) {
        unprocessed = ids.drop(i) // fixed semantics: the CURRENT id is kept
      } else {
        val id = ids(i)
        val m = Resilience.guardedFetch(limiter, breaker, 3, clock)(_ => fetchMatch(id))
        val t = Resilience.guardedFetch(limiter, breaker, 3, clock)(_ => fetchTimeline(id))
        (m, t) match {
          case (Some(md), Some(td)) =>
            matchBatch ::= md; timelineBatch ::= td; total += 1
            if (timelineBatch.size >= timelineBatchSize) {
              timelineBatches += 1
              land(parse(timelineBatch), "match_timeline", timelineBatches)
              timelineBatch = Nil
            }
            if (matchBatch.size >= matchBatchSize) {
              matchBatches += 1
              land(parse(matchBatch), "match", matchBatches)
              matchBatch = Nil
            }
          case _ => noData += 1
        }
        i += 1
      }
    }
    if (matchBatch.nonEmpty) {
      matchBatches += 1; land(parse(matchBatch), "match", matchBatches)
    }
    if (timelineBatch.nonEmpty) {
      timelineBatches += 1; land(parse(timelineBatch), "match_timeline", timelineBatches)
    }
    Walk(total, noData, matchBatches, timelineBatches, unprocessed)
  }

  /** One leftover file's re-drive outcome. */
  final case class LeftoverReport(file: String, total: Int, noData: Int,
      drained: Boolean)

  /** The leftover re-drive loop (`EC2/leftover.py:24-233`, St4): walk
    * every `leftovers_*_matches` dataset under `backfill/leftovers/`
    * (fetcher-side PLAYER leftovers live under their own name and are
    * not match ids — filtered out), re-run the shared match walk on
    * each, and maintain the invariant the reference's re-drive loop
    * lives by: a file is OVERWRITTEN in place with its unprocessed tail
    * when the deadline cuts the walk (`leftover.py:93`), DELETED when
    * drained (`leftover.py:213-221`), and once the deadline hits,
    * remaining files are skipped untouched (`api_expired` flag). Test
    * mode skips everything (`leftover.py:31-35` — re-driving thousands
    * of leftovers during development), mirroring `RunConfig.isTest`.
    *
    * `window` is the re-driving run's window: the default land path is
    * `outRoot/<type>/redrive_<start>_<end>_<file>_<n>`, so re-driving
    * the same cut file in two runs keeps both runs' batches. Listing,
    * reads, writes and deletes all go through Hadoop `FileSystem`, so
    * `outRoot` may be a plain path or any `file:`/`hdfs:`/`s3a:` URI. */
  def runLeftovers(spark: SparkSession, outRoot: String,
      window: Windows.WindowState,
      fetchMatch: String => Resilience.Outcome[String],
      fetchTimeline: String => Resilience.Outcome[String],
      limiter: Resilience.SlidingWindowRateLimiter,
      breaker: Resilience.CircuitBreaker,
      deadlineEpoch: Long = Long.MaxValue,
      clock: Resilience.Clock = Resilience.Clock.system,
      source: String = "crawl",
      matchBatchSize: Int = 200, timelineBatchSize: Int = 50,
      testMode: Boolean = false,
      land: (DataFrame, String, Int) => Unit = null): Seq[LeftoverReport] = {
    if (testMode) return Nil
    val dir = new org.apache.hadoop.fs.Path(s"$outRoot/backfill/leftovers")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = (if (fs.exists(dir)) fs.listStatus(dir).toSeq else Nil)
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("leftovers_")
        && st.getPath.getName.endsWith("_matches"))
      .map(_.getPath)
      .sortBy(_.getName)
    var expired = false
    files.flatMap { f =>
      if (expired) None // api_expired: leave remaining files untouched
      else {
        val path = f.toString
        // parquet carries no row order and the reference's matchlist is a
        // Python set (arbitrary order) — sorted ids are the deterministic
        // walk order, so a cut-and-overwritten tail is reproducible
        val ids = spark.read.parquet(path).collect().map(_.getString(0)).toSeq.sorted
        val landFn = Option(land).getOrElse {
          (df: DataFrame, kind: String, n: Int) =>
            Writers.jsonDump(df, s"$outRoot/$kind/redrive_${window.startEpoch}_" +
              s"${window.endEpoch}_${f.getName}_$n")
        }
        val walk = walkMatches(spark, ids.toSeq, fetchMatch, fetchTimeline, limiter,
          breaker, deadlineEpoch, clock, source, matchBatchSize,
          timelineBatchSize, landFn)
        if (walk.unprocessed.nonEmpty) {
          import spark.implicits._
          // overwrite THIS file with its tail; stop touching the rest
          Writers.saveLeftovers(walk.unprocessed.toDF("key"), path)
          expired = true
        } else Writers.deletePath(spark, path)
        Some(LeftoverReport(f.getName, walk.total, walk.noData,
          drained = walk.unprocessed.isEmpty))
      }
    }
  }

  /** The whole fetcher run for one window — `run_fetcher(config)` end to
    * end. Collects tiers under the cap, stamps + maps ranks, truncates,
    * fans out the guarded matchList fetches, and lands BOTH outputs:
    * the envelope under [[envelopeKey]] (retried) and failed players as
    * a K8 leftover dataset for the next run's re-drive. Returns the
    * envelope key, or None when the upload exhausted its retries. */
  def runFetcher(spark: SparkSession, outRoot: String,
      window: Windows.WindowState, maxPlayers: Int, nowEpoch: Long,
      fetchRank: String => Option[DataFrame],
      fetchPage: (String, String, Int) => Option[DataFrame],
      fetchMatches: (String, Windows.WindowState) => Resilience.Outcome[Seq[String]],
      limiter: Resilience.SlidingWindowRateLimiter,
      breaker: Resilience.CircuitBreaker,
      clock: Resilience.Clock = Resilience.Clock.system): Option[String] = {
    import spark.implicits._
    val (high, nHigh) = highEloUnion(fetchRank, HighRanks, maxPlayers)
    val (low, _) = lowEloUnion(fetchPage, LowTiers, LowDivisions,
      maxPlayers, nHigh, startOrd = high.size)
    if (high.isEmpty && low.isEmpty) {
      // zero players found: the reference still uploads the (empty)
      // envelope and lets the processor skip on the empty matchlist
      // (`fetcher.py:136-146` with empty lists)
      val key = envelopeKey(window)
      val empty = spark.sql(
        "SELECT map() AS ranked_map, CAST(array() AS ARRAY<STRING>) AS matchlist, " +
          "CAST(0 AS BIGINT) AS match_count")
      return if (writeEnvelopeWithRetry(empty, s"$outRoot/$key", clock = clock))
        Some(key) else None
    }
    val stamped = stampedPlayers(high ++ low, nowEpoch)
    val ranks = rankMap(stamped)
    val capped = truncatePlayers(stamped, maxPlayers)
    // driver fan-out over the capped puuids — bounded by maxPlayers, the
    // same driver-memory bound the reference's sequential loop carries
    val puuids = capped.select("puuid").as[String].collect().toSeq
    val fetched = fetchMatchLists(puuids, window, fetchMatches, limiter, breaker,
      clock = clock)
    val ids = fetched.collect { case Matches(_, ms) => ms }.flatten
    val failed = fetched.collect { case Failed(p) => p }
    if (failed.nonEmpty)
      Writers.saveLeftovers(failed.toDF("key"), s"$outRoot/backfill/leftovers/players")
    val key = envelopeKey(window)
    val env = envelope(ranks, ids.toDF("matchId"))
    if (writeEnvelopeWithRetry(env, s"$outRoot/$key", clock = clock)) Some(key)
    else None
  }

  /** The whole container run — `main()` (`EC2/main.py:9-48`): fetcher →
    * processor (only when a matchlist landed, `main.py:19-24`) →
    * leftover re-drive (always attempted; its failures are non-critical
    * and swallowed, `main.py:27-35` — the next run re-drives what this
    * one couldn't). One shared limiter/breaker/deadline across all
    * three phases, exactly the budget one container has. */
  def run(spark: SparkSession, outRoot: String, window: Windows.WindowState,
      maxPlayers: Int, nowEpoch: Long, src: Sources,
      limiter: Resilience.SlidingWindowRateLimiter,
      breaker: Resilience.CircuitBreaker,
      deadlineEpoch: Long = Long.MaxValue,
      clock: Resilience.Clock = Resilience.Clock.system,
      source: String = "crawl", testMode: Boolean = false)
      : (Option[String], Option[ProcessorReport], Seq[LeftoverReport]) = {
    val key = runFetcher(spark, outRoot, window, maxPlayers, nowEpoch,
      src.fetchRank, src.fetchPage, src.fetchMatchList, limiter, breaker, clock)
    val report = key.flatMap(k => runProcessor(spark, outRoot, k, window,
      src.fetchMatch, src.fetchTimeline, limiter, breaker, deadlineEpoch,
      clock, source))
    val redriven =
      try runLeftovers(spark, outRoot, window, src.fetchMatch, src.fetchTimeline,
        limiter, breaker, deadlineEpoch, clock, source, testMode = testMode)
      catch { case _: Exception => Nil } // non-critical by contract
    (key, report, redriven)
  }
}
