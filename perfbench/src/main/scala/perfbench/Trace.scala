package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans and Spark events of a traced run, kept in memory and summarised
  * when the run ends.
  *
  * Everything is observed from outside the program: spans wrap the
  * benchmark's own calls into the program's public entry points, and a
  * `SparkListener` plus a `QueryExecutionListener` registered here see the
  * jobs, tasks and planning phases those calls cause. A job is attributed
  * to a module by the call site Spark records for its stages: the
  * innermost `graft.<module>` frame of the stage details, so a job
  * description the program sets cannot hide the frame. Jobs that adaptive
  * execution submits from a pool thread carry no caller frames; they take
  * the call site Spark recorded when their SQL execution started. A job
  * with no program frame either way (the benchmark's own `noop` write)
  * belongs to the module of the span it ran in.
  *
  * A disabled tracer only runs the wrapped code. */
final class Tracer private (val enabled: Boolean) {
  import Tracer._

  private val t0Nanos = System.nanoTime()
  private val t0Ms = System.currentTimeMillis().toDouble
  /** Wall clock in epoch ms with sub-ms resolution, comparable with the
    * millisecond timestamps of Spark's events. */
  def nowMs(): Double = t0Ms + (System.nanoTime() - t0Nanos) / 1e6

  val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Int]
  private val gcBeans = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
  private var gcMs = 0L

  private val jobs = mutable.ArrayBuffer.empty[Job]
  private val jobEnds = mutable.HashMap.empty[Int, Long]
  private val execs = mutable.HashMap.empty[Long, Exec]
  private val tasks = mutable.ArrayBuffer.empty[Task]
  private val stageCount = mutable.ArrayBuffer.empty[Long] // completion times
  private val phases = mutable.ArrayBuffer.empty[(String, Long, Long)]

  /** A span named `<module>.<what>`; nested spans get the enclosing span
    * as parent. */
  def span[A](name: String)(f: => A): A =
    if (!enabled) f
    else {
      val idx = spans.length
      spans += Span(name, open.headOption.getOrElse(-1), nowMs(), Double.NaN)
      open = idx :: open
      try f
      finally {
        spans(idx) = spans(idx).copy(endMs = nowMs())
        open = open.tail
      }
    }

  /** A measured operation: a top-level span whose wall time the Spark
    * events inside it are attributed against. */
  def op[A](name: String)(f: => A): A =
    if (!enabled) f
    else {
      require(open.isEmpty, s"operation $name nested in another span")
      val gc0 = gcTotalMs()
      try span(name)(f) finally gcMs += gcTotalMs() - gc0
    }

  private def gcTotalMs(): Long = {
    var s = 0L
    gcBeans.forEach(b => s += math.max(0L, b.getCollectionTime))
    s
  }

  /** Forget everything recorded so far (after a probe that must not count). */
  def reset(): Unit = {
    spans.clear(); gcMs = 0L
    synchronized {
      jobs.clear(); jobEnds.clear(); execs.clear(); tasks.clear(); stageCount.clear()
      phases.clear()
    }
  }

  private[perfbench] val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val details = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).details
      val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .map(_.toLong)
      Tracer.this.synchronized { jobs += Job(e.jobId, e.time, programFrames(details), exec) }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart =>
        Tracer.this.synchronized { execs(x.executionId) = Exec(programFrames(x.details), x.time) }
      case x: SparkListenerSQLExecutionEnd =>
        Tracer.this.synchronized {
          execs.get(x.executionId).foreach(ex => execs(x.executionId) = ex.copy(endMs = x.time))
        }
      case _ => ()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Tracer.this.synchronized { jobEnds(e.jobId) = e.time }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Tracer.this.synchronized {
        stageCount += e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) Tracer.this.synchronized {
        tasks += Task(e.taskInfo.finishTime, m.executorRunTime,
          m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled,
          m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten)
      }
    }
  }

  private[perfbench] val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      val ps = qe.tracker.phases
      Tracer.this.synchronized {
        ps.foreach { case (name, p) => phases += ((name, p.startTimeMs, p.endTimeMs)) }
      }
    }
  }

  def install(spark: SparkSession): Unit = if (enabled) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
  }

  def uninstall(spark: SparkSession): Unit = if (enabled) {
    org.apache.spark.BusDrain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
  }

  /** Per-layer metrics of everything recorded, normalised by `groups`
    * (cycles or passes) where the metric is a per-group time or count. */
  def summary(spark: SparkSession, groups: Int, cores: Int): Map[String, Double] = {
    org.apache.spark.BusDrain(spark.sparkContext)
    val ops = spans.filter(_.parent == -1)
    def inOps(t: Double): Boolean = ops.exists(o => t >= o.startMs && t <= o.endMs)
    val wallMs = ops.map(o => o.endMs - o.startMs).sum
    val g = math.max(1, groups).toDouble
    val js = resolvedJobs()
    val (ts, stages, ph) = synchronized { (tasks.toList, stageCount.toList, phases.toList) }
    // sweep each operation's wall: an instant belongs to the running job
    // that started first, else to time outside jobs
    val byModule = mutable.HashMap.empty[String, Double].withDefaultValue(0.0)
    var nonJobMs = 0.0
    var jobsIn = 0
    ops.foreach { o =>
      val spansIn = spans.filter(s => s.startMs >= o.startMs && s.endMs <= o.endMs && s.parent != -1)
      val mine = js.filter(j => j.endMs > o.startMs && j.startMs < o.endMs)
        .sortBy(j => (j.startMs, j.id))
      jobsIn += mine.count(j => j.startMs >= o.startMs)
      val cuts = (Seq(o.startMs, o.endMs) ++ mine.flatMap(j => Seq(j.startMs.toDouble, j.endMs.toDouble)))
        .filter(t => t >= o.startMs && t <= o.endMs).distinct.sorted
      cuts.sliding(2).foreach {
        case Seq(a, b) if b > a =>
          val mid = (a + b) / 2
          mine.find(j => j.startMs <= mid && j.endMs >= mid) match {
            case Some(j) =>
              val module = moduleOf(j.site).getOrElse {
                // innermost benchmark span open at the job's start
                spansIn.filter(s => s.startMs <= j.startMs && s.endMs >= j.startMs)
                  .sortBy(s => -s.startMs).headOption.map(_.name).getOrElse(o.name)
                  .takeWhile(_ != '.')
              }
              byModule(module) += b - a
            case None => nonJobMs += b - a
          }
        case _ => ()
      }
    }
    val tIn = ts.filter(t => inOps(t.finishMs.toDouble))
    def phase(p: String): Double = ph.filter(x => x._1 == p && inOps(x._2.toDouble))
      .map(x => (x._3 - x._2).toDouble).sum / 1000 / g
    val moduleJobS = Modules.map(m => s"$m.job_s" -> byModule(m) / 1000 / g).toMap
    val attributed = Modules.map(byModule).sum + nonJobMs
    moduleJobS ++ Map(
      "spark.nonjob_s" -> nonJobMs / 1000 / g,
      "trace.attributed_ratio" -> (if (wallMs > 0) attributed / wallMs else 0.0),
      "trace.wall_s" -> wallMs / 1000 / g,
      "plans.analysis_s" -> phase("analysis"),
      "plans.optimization_s" -> phase("optimization"),
      "plans.planning_s" -> phase("planning"),
      "spark.jobs" -> jobsIn / g,
      "spark.stages" -> stages.count(t => inOps(t.toDouble)) / g,
      "spark.tasks" -> tIn.length / g,
      "spark.busy_ratio" ->
        (if (wallMs > 0) tIn.map(_.runMs).sum.toDouble / (wallMs * cores) else 0.0),
      "spark.gc_s" -> gcMs / 1000.0 / g,
      "spark.shuffle_mb" -> tIn.map(_.shuffleBytes).sum / MB / g,
      "spark.spill_mb" -> tIn.map(_.spillBytes).sum / MB / g,
      "spark.scan_mb" -> tIn.map(_.inputBytes).sum / MB / g,
      "spark.output_mb" -> tIn.map(_.outputBytes).sum / MB / g)
  }

  /** Durations of the spans named `name`, in seconds. */
  def spanSeconds(name: String): Seq[Double] =
    spans.filter(s => s.name == name).map(s => (s.endMs - s.startMs) / 1000).toSeq

  /** Every job seen, with its end time and its call site: the stage's
    * program frames, else those of its SQL execution. */
  def resolvedJobs(): List[Job] = synchronized {
    jobs.map { j =>
      val site = if (j.site.nonEmpty) j.site
        else j.exec.flatMap(execs.get).map(_.site).getOrElse("")
      j.copy(endMs = jobEnds.getOrElse(j.id, j.startMs), site = site)
    }.toList
  }

  /** SQL executions that started and ended within `[fromMs, toMs]`. */
  def executionsIn(fromMs: Double, toMs: Double): List[(Long, Exec)] = synchronized {
    execs.toList.filter { case (_, x) => x.startMs >= fromMs && x.endMs >= x.startMs && x.endMs <= toMs }
  }
}

object Tracer {
  final case class Span(name: String, parent: Int, startMs: Double, endMs: Double)
  /** `site`: the program frames (`graft.` lines) of the job's call site. */
  final case class Job(id: Int, startMs: Long, site: String, exec: Option[Long],
      endMs: Long = 0L)
  /** A SQL execution: its program frames, start and end (-1 while running). */
  final case class Exec(site: String, startMs: Long, endMs: Long = -1L)
  final case class Task(finishMs: Long, runMs: Long, shuffleBytes: Long, spillBytes: Long,
      inputBytes: Long, outputBytes: Long)

  /** The program's layers, by package under `graft`. */
  val Modules: Seq[String] = Seq("driver", "sources", "operators", "sinks", "queries", "plans")
  private val MB = 1024.0 * 1024.0
  private val Frame = """(?:^|[\s/])graft\.([a-z]+)\.""".r.unanchored

  /** The module of the innermost program frame in a stage's call-site
    * details; `functions` are operator kernels, `streaming` is operator
    * code too. */
  def moduleOf(details: String): Option[String] =
    details.linesIterator.collectFirst { case Frame(pkg) => pkg }.map {
      case "functions" | "streaming" => "operators"
      case m if Modules.contains(m) => m
      case _ => "other"
    }

  /** The lines of a call site that are program frames, innermost first. */
  def programFrames(details: String): String =
    details.linesIterator.filter(l => Frame.findFirstIn(l).isDefined).mkString("\n")

  def apply(enabled: Boolean): Tracer = new Tracer(enabled)
}
