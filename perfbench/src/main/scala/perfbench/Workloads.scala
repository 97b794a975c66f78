package perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.driver.Crawl
import graft.queries.Q
import graft.sources.Resilience

/** One group of closed-loop operations (a crawl cycle or a catalog pass):
  * each operation starts when the previous one returned.
  * `work` units were delivered in `workSeconds` of measured calls. */
final case class Group(opSeconds: Seq[Double], work: Double, workSeconds: Double,
    attempted: Int, failed: Int, failures: Seq[String])

trait Workload {
  /** Generate the run's inputs (untimed). */
  def prepare(spark: SparkSession): Unit
  /** The set-up warm pass: the operation's code path on tiny input. */
  def warm(spark: SparkSession, tr: Tracer): Unit
  /** Run and check group `g`; only the operations themselves are timed. */
  def group(spark: SparkSession, tr: Tracer, g: Int): Group
  /** Per-layer metrics the workload counts itself (traced runs only). */
  def layerCounters(tr: Tracer, groups: Int): Map[String, Double] = Map.empty
}

object Workloads {
  val Names: Seq[String] = Seq("crawl_ingest", "catalog")

  def apply(name: String, seed: Long, work: Path, cacheDir: Path): Workload = name match {
    case "crawl_ingest" => new CrawlIngest(seed, work, CrawlIngest.Full)
    case "catalog"      => new Catalog(cacheDir)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (known: ${Names.mkString(", ")})")
  }

  def time[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** Data files under `p` (hidden and underscore-prefixed bookkeeping
    * files excluded). */
  def dataFiles(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter { f =>
        val n = f.getFileName.toString
        Files.isRegularFile(f) && !n.startsWith(".") && !n.startsWith("_")
      }.count()
      finally s.close()
    }

  def delete(p: Path): Unit = CatalogFixture.deleteTree(p.toFile)
}

/** `crawl_ingest`: two consecutive 2-day windows of [[Crawl.run]] per cycle
  * against the in-process API of [[CrawlWorld]]. A virtual deadline cuts
  * window 1's walk part way; window 2 crawls its own matches and then
  * re-drives window 1's leftovers. Both windows run against one output
  * root, as consecutive runs of one container do; between them, window 1's
  * landed batches are handed on (moved aside, untimed), because window 2
  * would otherwise land its own `<kind>/batch_<n>` over them (see
  * [[CrawlIngest.handOn]]). */
final class CrawlIngest(seed: Long, root: Path, size: CrawlWorld.Size) extends Workload {
  import CrawlWorld._
  import CrawlIngest._
  private[perfbench] val world = new CrawlWorld(seed, size)
  private var waitedMs = 0L
  private var calls = 0L
  private var retries = 0L
  private var rejects = 0L
  private var listed = 0L
  private var landed = 0L
  private var files = 0L
  /** Each measured window's API, in run order (for the traced phase split). */
  private val windowApis = mutable.ArrayBuffer.empty[world.Api]

  def prepare(spark: SparkSession): Unit = ()

  /** Window 1 of the tiny world, stall and leftovers included. */
  def warm(spark: SparkSession, tr: Tracer): Unit = {
    val tiny = new CrawlIngest(seed, root.resolve("warm"), CrawlIngest.Tiny)
    val clock = new VirtualClock(tiny.world.window(0).endEpoch * 1000L, seed)
    tr.op("driver.crawl_window") {
      tiny.runWindow(spark, root.resolve("warm"), 0,
        tiny.world.api(spark, 0, clock, Some(CrawlIngest.DeadlineShare)), clock,
        clock.nowMs / 1000 + DeadlineAfterSec)
    }
    Workloads.delete(root.resolve("warm"))
  }

  def group(spark: SparkSession, tr: Tracer, g: Int): Group = {
    val out = root.resolve(s"cycle-$g")
    Workloads.delete(out)
    Files.createDirectories(out)
    val clock = new VirtualClock(world.window(0).endEpoch * 1000L, seed ^ g)
    val failures = mutable.ArrayBuffer.empty[String]
    val walls = mutable.ArrayBuffer.empty[Double]
    var pairs = 0L
    var attempted = 0
    var failed = 0
    def guarded(what: String)(f: => Unit): Unit = {
      attempted += 1
      val before = failures.length
      try f catch { case NonFatal(e) => failures += s"$what threw: $e" }
      if (failures.length > before) failed += 1
    }
    // window 1: the deadline cuts the walk, its tail becomes a leftover file
    var leftoverIds = Set.empty[String]
    var landed1 = Set.empty[String]
    val api1 = world.api(spark, 0, clock, Some(CrawlIngest.DeadlineShare))
    guarded("window 1") {
      val deadline = clock.nowMs / 1000 + DeadlineAfterSec
      val ((_, rep, _), wall) = Workloads.time(tr.op("driver.crawl_window") {
        runWindow(spark, out, 0, api1, clock, deadline)
      })
      walls += wall
      val r = rep.getOrElse(sys.error("window 1: no processor report"))
      val key = r.leftoverKey.getOrElse(sys.error("window 1: the deadline cut nothing"))
      leftoverIds = spark.read.parquet(s"$out/$key").collect().map(_.getString(0)).toSet
      val got = landedIds(out)
      landed1 = got.keySet
      checkLanded("window 1", got, expectedLanded(api1, api1.listed.toSet -- leftoverIds), failures)
      if (r.total + r.noData + leftoverIds.size != api1.listed.size)
        failures += s"window 1: ${r.total} landed + ${r.noData} no-data + " +
          s"${leftoverIds.size} leftover != ${api1.listed.size} listed"
      if (got.keySet.intersect(leftoverIds).nonEmpty) failures += "window 1: a leftover id was landed"
      pairs += r.total
      note(api1, r.total + r.noData)
    }
    // Crawl.run lands `<kind>/batch_<n>` in overwrite mode with n restarting
    // at 1 in every run, so window 2 would replace window 1's batches. Hand
    // them on first, as the consumer of landed batches would.
    val handed = out.resolve(HandedOn)
    handOn(out, handed)
    // window 2: no deadline; the leftover phase must drain window 1's tail.
    // The check is on the cycle's end state: every id either window landed
    // must still be on disk exactly once.
    val api2 = world.api(spark, 1, clock, None)
    guarded("window 2") {
      val ((_, rep, redriven), wall) = Workloads.time(tr.op("driver.crawl_window") {
        runWindow(spark, out, 1, api2, clock, Long.MaxValue)
      })
      walls += wall
      val r = rep.getOrElse(sys.error("window 2: no processor report"))
      val end = landedIds(handed, out)
      val want2 = expectedLanded(api2, api2.listed.toSet ++ leftoverIds)
      checkLanded("cycle end", end, landed1 ++ want2, failures)
      val lost = landed1 -- end.keySet
      if (lost.nonEmpty)
        failures += s"window 2: ${lost.size} of the ${landed1.size} ids window 1 landed are no " +
          "longer on disk"
      if (r.total + r.noData != api2.listed.size)
        failures += s"window 2: ${r.total} landed + ${r.noData} no-data != ${api2.listed.size} listed"
      val redrivenTotal = redriven.map(x => x.total + x.noData).sum
      if (!redriven.forall(_.drained) || redrivenTotal != leftoverIds.size)
        failures += s"window 2: re-drive walked $redrivenTotal of ${leftoverIds.size} leftovers, " +
          s"drained=${redriven.map(_.drained)}"
      val left = Option(out.resolve("backfill/leftovers").toFile.listFiles()).getOrElse(Array.empty)
        .filter(_.getName.endsWith("_matches"))
      if (left.nonEmpty) failures += s"window 2: leftovers remain: ${left.map(_.getName).mkString(",")}"
      pairs += r.total + redriven.map(_.total).sum
      note(api2, r.total + r.noData + redrivenTotal)
    }
    listed += api1.listed.size + api2.listed.size
    waitedMs += clock.waitedMs
    windowApis += api1 += api2
    files += Seq(handed, out).map(r => LandedKinds.map(k => Workloads.dataFiles(r.resolve(k))).sum).sum
    Workloads.delete(out)
    landed += pairs
    Group(walls.toSeq, pairs.toDouble, walls.sum, attempted, failed, failures.toSeq)
  }

  private def note(api: world.Api, walked: Int): Unit = {
    calls += api.calls
    retries += api.retries
    rejects += Seq(MatchKind, TimelineKind).map(k => math.max(0, walked - api.distinctCalls(k))).sum
  }

  /** The ids whose latest match and timeline fetch both answered 200. */
  private def expectedLanded(api: world.Api, walked: Set[String]): Set[String] =
    walked.filter(id => api.lastOk.getOrElse((MatchKind, id), false) &&
      api.lastOk.getOrElse((TimelineKind, id), false))

  private def checkLanded(what: String, got: Map[String, Int], want: Set[String],
      failures: mutable.ArrayBuffer[String]): Unit = {
    val twice = got.filter(_._2 != 2).keys // one match and one timeline doc each
    if (twice.nonEmpty) failures += s"$what: ${twice.size} ids not landed exactly once as a pair"
    if (got.keySet != want)
      failures += s"$what: ${got.size} ids on disk, expected ${want.size} " +
        s"(missing ${(want -- got.keySet).size}, e.g. ${(want -- got.keySet).take(3)}; " +
        s"extra ${(got.keySet -- want).take(3)})"
  }

  /** One container run for window `w`: [[Crawl.run]] itself, traced or not. */
  private[perfbench] def runWindow(spark: SparkSession, out: Path, w: Int, api: world.Api,
      clock: VirtualClock, deadline: Long)
      : (Option[String], Option[Crawl.ProcessorReport], Seq[Crawl.LeftoverReport]) = {
    val win = world.window(w)
    val limiter = new Resilience.SlidingWindowRateLimiter(DevKeyLimits, clock.clock)
    val breaker = new Resilience.CircuitBreaker(clock = clock.clock)
    Crawl.run(spark, out.toString, win, size.maxPlayers, win.endEpoch, api.sources, limiter,
      breaker, deadline, clock.clock)
  }

  /** Phases and landed batches of each traced window, recovered from
    * outside [[Crawl.run]]. A phase ends at the later of its last API call
    * (recorded by the stub) and the end of its last job (a job belongs to
    * the phase whose `Crawl.runFetcher`, `runProcessor` or `runLeftovers`
    * frame its call site holds); the re-drive takes the rest of the
    * window. A landed batch is one SQL execution of the default land
    * path, `Writers.jsonDump`, timed from its start to its end event. */
  override def layerCounters(tr: Tracer, groups: Int): Map[String, Double] = {
    val g = math.max(1, groups).toDouble
    val ops = tr.spans.filter(_.parent == -1)
    require(ops.length == windowApis.length,
      s"${ops.length} traced windows, ${windowApis.length} window APIs")
    val jobs = tr.resolvedJobs()
    var fetcherMs, processorMs, leftoversMs, landInProcessorMs = 0.0
    val lands = mutable.ArrayBuffer.empty[Double]
    var landJobs = 0
    ops.zip(windowApis).foreach { case (o, api) =>
      val mine = jobs.filter(j => j.startMs >= o.startMs && j.startMs <= o.endMs)
      def lastJobEnd(frame: String): Double =
        mine.filter(_.site.contains(s"graft.driver.Crawl$$.$frame(")).map(_.endMs.toDouble)
          .maxOption.getOrElse(o.startMs)
      def lastCall(phase: String): Double =
        api.lastCallMs.get(phase).map(_.toDouble).getOrElse(o.startMs)
      val fetcherEnd = Seq(o.startMs, lastCall(Fetcher), lastJobEnd("runFetcher")).max
      val processorEnd = Seq(fetcherEnd, lastCall(Processor), lastJobEnd("runProcessor")).max
        .min(o.endMs)
      fetcherMs += fetcherEnd - o.startMs
      processorMs += processorEnd - fetcherEnd
      leftoversMs += o.endMs - processorEnd
      tr.executionsIn(o.startMs, o.endMs)
        .filter(_._2.site.contains("graft.sinks.Writers$.jsonDump(")).foreach { case (id, x) =>
          lands += (x.endMs - x.startMs) / 1000.0
          landJobs += mine.count(_.exec.contains(id))
          if (x.startMs >= fetcherEnd && x.endMs <= processorEnd) landInProcessorMs += x.endMs - x.startMs
        }
    }
    Map(
      "crawl.fetcher_s" -> fetcherMs / 1000 / g,
      "crawl.processor_s" -> processorMs / 1000 / g,
      "crawl.leftovers_s" -> leftoversMs / 1000 / g,
      "crawl.walk_self_s" -> (processorMs - landInProcessorMs) / 1000 / g,
      "crawl.ids_landed_ratio" -> (if (listed > 0) landed.toDouble / listed else 0.0),
      "sources.fetch_calls" -> calls / g,
      "sources.fetch_retries" -> retries / g,
      "sources.breaker_rejects" -> rejects / g,
      "sources.virtual_wait_s" -> waitedMs / 1000.0 / g,
      "sinks.land_batches" -> lands.length / g,
      "sinks.land_s" -> lands.sum / g,
      "sinks.land_batch_p50_s" -> (if (lands.isEmpty) 0.0 else Stats.median(lands.toSeq)),
      "sinks.land_batch_p90_s" -> (if (lands.isEmpty) 0.0 else Stats.tail(lands.toSeq)),
      "sinks.jobs_per_batch" -> (if (lands.isEmpty) 0.0 else landJobs.toDouble / lands.length),
      "spark.output_files" -> files / g)
  }
}

object CrawlIngest {
  /** 700 matches per window: window 1 walks about 420 ids before the
    * stall, window 2 about 700 plus the 280 it re-drives, so a cycle
    * walks about 1400 ids, and each window lands full 200-match and
    * 50-timeline batches besides its remainders. */
  val Full: CrawlWorld.Size = CrawlWorld.Size(matchesPerWindow = 700, frames = 30,
    lowPerDivision = 30, maxPlayers = 140)
  val Tiny: CrawlWorld.Size = CrawlWorld.Size(matchesPerWindow = 8, frames = 2,
    lowPerDivision = 30, maxPlayers = 140)
  /** Share of window 1's listed ids walked before the API stalls past the
    * deadline. */
  val DeadlineShare = 0.6
  /** Where window 1's landed batches go before window 2 runs. */
  val HandedOn = "handed-on/window-1"
  val LandedKinds: Seq[String] = Seq("match", "match_timeline")

  /** Move the landed batch directories of output root `out` under `to`.
    * This works round an open program defect: every [[Crawl.run]] lands
    * through `Writers.jsonDump` into `<root>/<kind>/batch_<n>` in overwrite
    * mode, with n restarting at 1, so a later window into the same root
    * replaces an earlier window's batches. HarnessSpec shows the loss, and
    * fails once the program keys its batches by window. */
  def handOn(out: Path, to: Path): Unit = LandedKinds.foreach { kind =>
    val from = out.resolve(kind)
    if (Files.exists(from)) {
      Files.createDirectories(to)
      Files.move(from, to.resolve(kind))
    }
  }

  /** matchId -> number of landed documents (match + timeline) under the
    * `match` and `match_timeline` directories of the given output roots.
    * Read with plain file IO, so checking starts no Spark job. */
  def landedIds(roots: Path*): Map[String, Int] = {
    val counts = mutable.HashMap.empty[String, Int].withDefaultValue(0)
    val Id = "\"matchId\":\"([^\"]+)\"".r
    for (root <- roots; kind <- LandedKinds) {
      val dirs = Option(root.resolve(kind).toFile.listFiles()).getOrElse(Array.empty)
        .filter(_.isDirectory)
      for (d <- dirs; f <- Option(d.listFiles()).getOrElse(Array.empty)
           if f.getName.endsWith(".json")) {
        val src = scala.io.Source.fromFile(f, "UTF-8")
        try src.getLines().foreach(l => Id.findFirstMatchIn(l).foreach(m => counts(m.group(1)) += 1))
        finally src.close()
      }
    }
    counts.toMap
  }
}

/** `catalog`: passes over headline rows of [[graft.SparkEntry.catalog]], each
  * row `q.run` followed by a `noop` write, over the generated fixture of
  * [[CatalogFixture]].
  *
  * Neither the fixture nor the row order depends on the seed. A row's wall
  * depends on which rows ran before it (shared caches and compiled code
  * warm up along the pass), so a seeded order moves single rows and with
  * them the median and tail between runs; the fixed catalog order keeps
  * those comparable. */
final class Catalog(cacheDir: Path, rows: Seq[Q] = Catalog.measured,
    expected: Map[String, Fingerprint] = Expected.catalog) extends Workload {
  import Catalog._
  private var dir: String = _
  private val familyS = mutable.HashMap.empty[String, Double].withDefaultValue(0.0)

  def prepare(spark: SparkSession): Unit =
    dir = CatalogFixture.ensure(spark,
      cacheDir.resolve(s"catalog-v${CatalogFixture.Version}-sf$Sf").toString, Sf)

  def warm(spark: SparkSession, tr: Tracer): Unit = {
    val tiny = CatalogFixture.ensure(spark,
      cacheDir.resolve(s"catalog-v${CatalogFixture.Version}-sf$WarmSf").toString, WarmSf)
    WarmRows.foreach { n =>
      tr.op(s"queries.$n")(runRow(spark, tr, headline.find(_.name == n).get, tiny))
    }
  }

  private def runRow(spark: SparkSession, tr: Tracer, q: Q, d: String)
      : org.apache.spark.sql.DataFrame = {
    val df = tr.span("queries.construct") { q.run(spark, d) }
    tr.span("queries.execute") { df.write.format("noop").mode("overwrite").save() }
    df
  }

  def group(spark: SparkSession, tr: Tracer, g: Int): Group = {
    val failures = mutable.ArrayBuffer.empty[String]
    val walls = mutable.ArrayBuffer.empty[Double]
    val answered = mutable.ArrayBuffer.empty[(Q, org.apache.spark.sql.DataFrame)]
    rows.foreach { q =>
      try {
        val t0 = System.nanoTime()
        val df = tr.op(s"queries.${q.name}") { runRow(spark, tr, q, dir) }
        val wall = (System.nanoTime() - t0) / 1e9
        walls += wall
        familyS(familyOf(q.name)) += wall
        answered += q -> df
        System.err.println(f"[perfbench] row ${q.name} $wall%.3f s")
      } catch { case NonFatal(e) => failures += s"${q.name} threw: $e" }
    }
    // every row's output is checked on the first pass (later passes
    // re-execute the same plans over the same input), after the pass and
    // CheckThreads rows at a time: the checks re-execute each row, and
    // one at a time they would take half as long as the pass itself
    if (g == 0) {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(CheckThreads)
      try {
        val pending = answered.map { case (q, df) => q -> pool.submit(() => fingerprint(df)) }
        pending.foreach { case (q, got) =>
          try expected.get(q.name) match {
            case Some(want) if want == got.get() => ()
            case Some(want) => failures += s"${q.name}: got ${got.get()}, expected $want"
            case None => failures += s"${q.name}: no expected result recorded"
          } catch {
            case e: java.util.concurrent.ExecutionException =>
              failures += s"${q.name} check threw: ${e.getCause}"
          }
        }
      } finally pool.shutdown()
    }
    // a row fails at most once: it threw, or its check failed
    Group(walls.toSeq, walls.length.toDouble, walls.sum, rows.length, failures.length,
      failures.toSeq)
  }

  override def layerCounters(tr: Tracer, groups: Int): Map[String, Double] = {
    val g = math.max(1, groups).toDouble
    Families.map(f => s"queries.${f}_s" -> familyS(f) / g).toMap ++ Map(
      "queries.construct_s" -> tr.spanSeconds("queries.construct").sum / g,
      "queries.execute_s" -> tr.spanSeconds("queries.execute").sum / g,
      "catalog.total_s" -> Families.map(familyS).sum / g)
  }

  /** Record this commit's per-row results as the expected ones. */
  def record(spark: SparkSession): Seq[(String, Fingerprint)] =
    headline.map(q => q.name -> fingerprint(q.run(spark, dir)))
}

/** A result's row count and an order-insensitive content hash: the sum of
  * xxhash64 over each row's JSON form. */
final case class Fingerprint(rows: Long, hash: String) {
  override def toString: String = s"$rows rows, hash $hash"
}

object Catalog {
  /** Fixture scale: the catalog's test fixture size, where per-job
    * overhead and planning dominate each row. */
  val Sf = 0.01
  val WarmSf = 0.001
  /** Rows whose output is checked at once. */
  val CheckThreads = 4
  /** Rows the set-up warm pass runs: a scan and aggregate, a join and an
    * explode. */
  val WarmRows: Seq[String] = Seq("q1_agg", "enrich_left", "explode_participants")

  def headline: Seq[Q] = graft.SparkEntry.catalog.filter(_.headline)

  /** The rows a pass runs, in catalog order: a sample of the 120 headline
    * rows whose per-row walls spread like the whole catalog's. One pass
    * over all 120 rows at `Sf` on four cores, in catalog order, was sorted
    * by wall and cut into 20 strata of 6; each stratum gives the row
    * nearest its mean wall, or a row named as heavy (`training_prep`,
    * `ivf_knn`, `semdedup_ann`, `pair_jaccard`) if it holds one; then two
    * strata give instead their row nearest that wall from a family no
    * other stratum gave (joins, temporal), so every family runs. That pass
    * took 92.3 s (median row 0.387 s, tail 2.121 s); these rows took
    * 15.7 s of it (median 0.402 s, tail 1.771 s: the third slowest of 20).
    * All 120 rows do not fit a run's time. */
  val MeasuredRows: Seq[String] = Seq("q1_agg_fast", "limit_players", "lookup_join",
    "id_extract", "explode_pframes", "pair_jaccard", "per_source_cap", "semdedup_ann",
    "rplsh_recall", "quant_rerank", "semantic_decontam_slice", "repetition_profile",
    "decontaminate", "watermark_max", "targeted_delete", "frame_sample", "route_file",
    "grouping_sets", "range_join", "stream_near_dedup")

  def measured: Seq[Q] = {
    val rows = headline.filter(q => MeasuredRows.contains(q.name))
    require(rows.length == MeasuredRows.length,
      s"catalog rows not found: ${MeasuredRows.diff(rows.map(_.name)).mkString(", ")}")
    rows
  }

  val Families: Seq[String] = Seq("relational", "nested", "llmops", "curation", "temporal",
    "storage", "media", "ingest", "extensions", "joins", "streamingops")

  private def byFamily: Seq[Seq[Q]] = {
    import graft.queries._
    Seq(Relational.all, Nested.all, LlmOps.all, Curation.all, Temporal.all, Storage.all,
      Media.all, Ingest.all, Extensions.all, Joins.all, StreamingOps.all)
  }
  private lazy val family: Map[String, String] =
    byFamily.zip(Families).flatMap { case (qs, f) => qs.map(_.name -> f) }.toMap
  def familyOf(name: String): String = family.getOrElse(name, "none")

  def fingerprint(df: org.apache.spark.sql.DataFrame): Fingerprint = {
    val r = df.toJSON.select(count(lit(1)), sum(xxhash64(col("value")).cast("decimal(38,0)"))).head()
    Fingerprint(r.getLong(0), Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0"))
  }
}

/** Expected results recorded beside the benchmark. */
object Expected {
  def lines(name: String): Seq[String] = {
    val in = getClass.getResourceAsStream(s"/expected/$name")
    require(in != null, s"missing expected file $name")
    val src = scala.io.Source.fromInputStream(in, "UTF-8")
    try src.getLines().map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#")).toList
    finally src.close()
  }

  /** `name rows hash` per line. */
  lazy val catalog: Map[String, Fingerprint] = lines("catalog.txt").map { l =>
    val Array(n, r, h) = l.split("\\s+")
    n -> Fingerprint(r.toLong, h)
  }.toMap
}
