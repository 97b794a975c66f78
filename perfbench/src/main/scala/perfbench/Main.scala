package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** The benchmark's JVM entry point (started by `run.py`):
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir> --cache <dir>
  * }}}
  *
  * It sets up once (JVM start to a ready session, plus the workload's warm
  * pass on tiny input), generates the seeded inputs, runs
  * closed-loop groups of operations for `--seconds`, checks every output
  * outside the timed calls, and prints one JSON line last: the end-to-end
  * metrics untraced, the per-layer metrics traced.
  *
  * `--record <dir>` instead writes the catalog's expected per-row results
  * of this commit into `dir`. */
object Main {

  final case class Metric(name: String, unit: String)

  /** Every end-to-end metric, in BENCHMARK.json's order. */
  val EndToEnd: Seq[Metric] = Seq(
    Metric("setup_s", "s"), Metric("work_per_s", "1/s"), Metric("op_geomean_s", "s"))

  /** Every per-layer metric, in BENCHMARK.json's order. A layer that does
    * not run in a workload reports 0. */
  val PerLayer: Seq[Metric] = Seq(
    Metric("crawl.fetcher_s", "s"), Metric("crawl.processor_s", "s"),
    Metric("crawl.leftovers_s", "s"), Metric("crawl.walk_self_s", "s"),
    Metric("driver.job_s", "s"),
    Metric("sources.fetch_calls", "count"), Metric("sources.fetch_retries", "count"),
    Metric("sources.breaker_rejects", "count"), Metric("sources.virtual_wait_s", "s"),
    Metric("crawl.ids_landed_ratio", "ratio"), Metric("sources.job_s", "s"),
    Metric("sinks.land_batches", "count"), Metric("sinks.land_s", "s"),
    Metric("sinks.land_batch_p50_s", "s"), Metric("sinks.land_batch_p90_s", "s"),
    Metric("sinks.jobs_per_batch", "count"), Metric("sinks.job_s", "s"),
    Metric("operators.job_s", "s"),
    Metric("queries.construct_s", "s"), Metric("queries.execute_s", "s")) ++
    Catalog.Families.map(f => Metric(s"queries.${f}_s", "s")) ++ Seq(
    Metric("queries.job_s", "s"), Metric("catalog.total_s", "s"),
    Metric("plans.analysis_s", "s"), Metric("plans.optimization_s", "s"),
    Metric("plans.planning_s", "s"), Metric("plans.job_s", "s"),
    Metric("spark.nonjob_s", "s"),
    Metric("spark.jobs", "count"), Metric("spark.stages", "count"),
    Metric("spark.tasks", "count"), Metric("spark.busy_ratio", "ratio"),
    Metric("spark.gc_s", "s"), Metric("spark.shuffle_mb", "MB"),
    Metric("spark.spill_mb", "MB"), Metric("spark.scan_mb", "MB"),
    Metric("spark.output_mb", "MB"), Metric("spark.output_files", "count"),
    Metric("box.calib_s", "s"), Metric("jvm.peak_rss_mb", "MB"),
    Metric("op.p50_s", "s"), Metric("op.p90_s", "s"),
    Metric("trace.wall_s", "s"), Metric("trace.attributed_ratio", "ratio"),
    Metric("trace.overhead_ratio", "ratio"))

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: Path, cache: Path, record: Option[Path])

  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val o = Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") match {
        case "0" => false; case "1" => true
        case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, got $t")
      },
      Paths.get(need("work")), Paths.get(need("cache")), kv.get("record").map(Paths.get(_)))
    require(Workloads.Names.contains(o.workload),
      s"unknown workload '${o.workload}' (known: ${Workloads.Names.mkString(", ")})")
    require(o.seconds > 0, "--seconds must be positive")
    o
  }

  def session(cores: Int, work: Path): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
    graft.sources.Tables.requiredConfs.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val opts = parse(args)
    // deep enough that the stage call sites reach the program's frames
    System.setProperty("spark.callstack.depth", "200")
    val cores = Runtime.getRuntime.availableProcessors
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    Files.createDirectories(opts.work)
    Files.createDirectories(opts.cache)
    val wl = Workloads(opts.workload, opts.seed, opts.work.resolve("w"), opts.cache)

    val spark = session(cores, opts.work)
    wl.warm(spark, Tracer(enabled = false))
    val setup = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    wl.prepare(spark)
    opts.record match {
      case Some(dir) => record(spark, opts, dir, wl)
      case None => measure(spark, opts, wl, setup, cores)
    }
    spark.stop()
  }

  private def measure(spark: SparkSession, opts: Opts, wl: Workload,
      setup: Double, cores: Int): Unit = {
    val tr = Tracer(opts.trace)
    var overhead = 0.0
    if (opts.trace) {
      tr.install(spark)
      // the warm pass traced, untraced, untraced, traced: the ratio of the
      // traced to the untraced walls is the tracing overhead on this
      // workload's operations, with a linear warm-up trend cancelled out
      val plain = Tracer(enabled = false)
      val walls = Seq(tr, plain, plain, tr).map(t => Workloads.time(wl.warm(spark, t))._2)
      overhead = (walls(0) + walls(3)) / (walls(1) + walls(2))
      org.apache.spark.BusDrain(spark.sparkContext)
      tr.reset()
    }
    val groups = mutable.ArrayBuffer.empty[Group]
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    while (groups.isEmpty ||
      elapsed + 0.5 * elapsed / groups.length < opts.seconds) {
      groups += wl.group(spark, tr, groups.length)
    }
    val ops = groups.flatMap(_.opSeconds).toSeq
    val attempted = groups.map(_.attempted).sum
    val failed = groups.map(_.failed).sum
    groups.flatMap(_.failures).foreach(f => System.err.println(s"[perfbench] FAILED $f"))

    val values: Seq[(Metric, Double)] =
      if (!opts.trace) {
        val workSeconds = groups.map(_.workSeconds).sum
        val m = Map(
          "setup_s" -> setup,
          "work_per_s" -> (if (workSeconds > 0) groups.map(_.work).sum / workSeconds else 0.0),
          "op_geomean_s" -> (if (ops.isEmpty) 0.0 else Stats.geomean(ops)))
        println(f"[perfbench] ${opts.workload}: ${groups.length} groups, ${ops.length} operations, " +
          f"setup $setup%.3f s")
        EndToEnd.map(x => x -> m(x.name))
      } else {
        val layer = tr.summary(spark, groups.length, cores) ++
          wl.layerCounters(tr, groups.length) ++ Map(
            "box.calib_s" -> calibrate(),
            "jvm.peak_rss_mb" -> peakRssMb(),
            "op.p50_s" -> (if (ops.isEmpty) 0.0 else Stats.median(ops)),
            "op.p90_s" -> (if (ops.isEmpty) 0.0 else Stats.tail(ops)),
            "trace.overhead_ratio" -> overhead)
        tr.uninstall(spark)
        PerLayer.map(x => x -> layer.getOrElse(x.name, 0.0))
      }
    values.foreach { case (m, v) => println(s"[perfbench] ${m.name} = $v ${m.unit}") }
    println(resultLine(failed == 0, attempted, failed, values))
  }

  def resultLine(correct: Boolean, attempted: Int, failed: Int,
      values: Seq[(Metric, Double)]): String = {
    def num(v: Double): String =
      if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
    val ms = values.map { case (m, v) =>
      s""""${m.name}": {"value": ${num(v)}, "unit": "${m.unit}"}"""
    }.mkString(", ")
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$ms}}"""
  }

  /** The JVM's peak resident set (VmHWM), in MiB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024
    }.getOrElse(0.0)
    finally src.close()
  }

  /** Seconds a fixed single-threaded integer loop takes: a stamp of the
    * box's speed at the time of the run. */
  def calibrate(): Double = {
    val t0 = System.nanoTime()
    var x = 1L
    var i = 0
    while (i < 200000000) { x = x * 6364136223846793005L + 1442695040888963407L; i += 1 }
    val s = (System.nanoTime() - t0) / 1e9
    if (x == 42) println("") // uses the result, so the loop cannot be dropped
    s
  }

  private def record(spark: SparkSession, opts: Opts, dir: Path, wl: Workload): Unit = {
    Files.createDirectories(dir)
    wl match {
      case c: Catalog =>
        val lines = c.record(spark).map { case (n, f) => s"$n ${f.rows} ${f.hash}" }
        Files.write(dir.resolve("catalog.txt"), (lines.mkString("\n") + "\n").getBytes("UTF-8"))
      case _ => throw new IllegalArgumentException(s"nothing to record for ${opts.workload}")
    }
  }
}
