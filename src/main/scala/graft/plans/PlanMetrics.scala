package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec

/** Post-execution physical-plan metric extraction: how many bytes a query
  * actually SHUFFLED and SPILLED, read from the executed plan's SQL
  * metrics (the numbers the Spark UI shows), not estimated.
  *
  * The brief's scale question — "is there a shuffle here that becomes the
  * bottleneck at 100 TB, and does the partition fit in executor memory?"
  * — is answered by these two numbers as a function of SF: shuffle bytes
  * that grow linearly with input are a re-partitioning the design pays by
  * intent; spill bytes that appear at some SF mark the operating point
  * where a partition outgrew its memory share (acceptable — spill is the
  * graceful path — but worth measuring BEFORE the 1000-executor run).
  * [[graft.Bench]] records both per query in `bench_full.json`
  * (`shuffle_mb` / `spill_mb`), so the decade tables in PERF.md can split
  * "time grew because the box slowed" from "the shuffle grew
  * super-linearly" from "we started spilling between sf10 and sf100".
  *
  * Known limit: a query that drives eager jobs while CONSTRUCTING its
  * DataFrame (the iterative connected-components rows localCheckpoint
  * per round) reports only its FINAL plan's bytes — the iteration's
  * shuffles ran outside the measured plan and read as 0 here. Those
  * rows' shuffle story is argued in their own specs, not this number.
  *
  * Accumulator timing: SQL metrics ride task-completion events through
  * the DAG scheduler, which processes the last task's update BEFORE the
  * action unblocks — so values read AFTER a blocking action are final.
  * No listener, no listener-bus race (QueryExecutionListener callbacks
  * are delivered asynchronously, which mis-attributes metrics under
  * back-to-back runs).
  */
object PlanMetrics {

  /** (shuffle bytes written, spill bytes: memory-pressure disk spills
    * from sorts/aggregations/joins, NOT shuffle files). */
  final case class Bytes(shuffleWrite: Long, spill: Long) {
    def +(o: Bytes): Bytes = Bytes(shuffleWrite + o.shuffleWrite, spill + o.spill)
  }

  /** Execute `df`'s plan (full plan, zero sink cost — the [[graft.Bench]]
    * noop-write convention, via an empty per-partition drain) and return
    * its measured bytes. Runs its OWN execution so callers measure a
    * fresh plan instance's metrics, not an accumulation across reps. */
  def measure(df: DataFrame): Bytes = {
    val qe = df.queryExecution
    qe.sparkSession.sparkContext.runJob(
      qe.toRdd, (it: Iterator[org.apache.spark.sql.catalyst.InternalRow]) =>
        { while (it.hasNext) it.next(); () })
    read(qe.executedPlan)
  }

  /** Files and bytes actually OPENED by the plan's file scans (summed
    * `numFiles`/`filesSize` scan metrics) — the partition-pruning
    * evidence: a pruned probe shows a fraction of the layout's totals
    * here, a full scan shows all of them (round-14 Bloom A/B). */
  final case class ScanStats(files: Long, bytes: Long) {
    def +(o: ScanStats): ScanStats = ScanStats(files + o.files, bytes + o.bytes)
  }

  /** [[measure]] that also reads scan-level file stats from the same
    * executed plan. */
  def measureWithScans(df: DataFrame): (Bytes, ScanStats) = {
    val qe = df.queryExecution
    qe.sparkSession.sparkContext.runJob(
      qe.toRdd, (it: Iterator[org.apache.spark.sql.catalyst.InternalRow]) =>
        { while (it.hasNext) it.next(); () })
    (read(qe.executedPlan), scans(qe.executedPlan))
  }

  /** Sum file-scan metrics across an EXECUTED plan tree. */
  def scans(plan: SparkPlan): ScanStats =
    allNodes(plan).map { n =>
      def m(key: String): Long =
        n.metrics.get(key).map(_.value).filter(_ > 0).getOrElse(0L)
      ScanStats(m("numFiles"), m("filesSize"))
    }.foldLeft(ScanStats(0, 0))(_ + _)

  /** Sum shuffle-write and spill SQL metrics across an EXECUTED plan
    * tree, descending through AQE wrappers and materialized query
    * stages. `ReusedExchangeExec` is a pointer to an exchange reached
    * through its own branch — descending through it would double-count
    * that exchange's metrics, so it is treated as a leaf. */
  def read(plan: SparkPlan): Bytes =
    allNodes(plan).map { n =>
      def m(key: String): Long =
        n.metrics.get(key).map(_.value).filter(_ > 0).getOrElse(0L)
      Bytes(m("shuffleBytesWritten"), m("spillSize"))
    }.foldLeft(Bytes(0, 0))(_ + _)

  private def allNodes(p: SparkPlan): Seq[SparkPlan] = {
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec        => Seq(q.plan)
      case _: ReusedExchangeExec    => Seq.empty
      case _                        => p.children
    }
    (p +: kids.flatMap(allNodes)) ++
      p.subqueries.flatMap(allNodes) // scalar/IN subqueries shuffle too
  }

  /** Task-level byte totals for EVERYTHING the session runs inside
    * `body`, via a scoped [[org.apache.spark.scheduler.SparkListener]].
    * Complements [[measure]]'s executed-plan read, which by design sees
    * only the final plan's metrics: a query that drives eager jobs
    * while CONSTRUCTING its DataFrame (the iterative
    * connected-components rounds localCheckpoint per iteration) reports
    * those jobs' shuffles as 0 there — the round-15 sf1000 campaign
    * recorded `dup_clusters` with empty byte maps for exactly this
    * reason. Here the listener sums `shuffleWriteMetrics.bytesWritten`
    * and `memoryBytesSpilled` (the same in-memory-size semantics as the
    * SQL `spillSize` metric) across every completed task.
    *
    * Listener-bus delivery is asynchronous, so after `body` returns the
    * totals are polled to quiescence (no new task-end event for 3
    * consecutive 50 ms polls, bounded at 10 s) before being read —
    * callers run queries serially (the Bench metrics pass), so
    * attribution is by construction, not by tag. */
  def measureTasks[A](spark: org.apache.spark.sql.SparkSession)(
      body: => A): (A, Bytes) = {
    import java.util.concurrent.atomic.AtomicLong
    val sc = spark.sparkContext
    val shuffle = new AtomicLong
    val spill = new AtomicLong
    val events = new AtomicLong
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        if (m != null) {
          shuffle.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          spill.addAndGet(m.memoryBytesSpilled)
        }
        events.incrementAndGet()
      }
    }
    sc.addSparkListener(listener)
    try {
      val a = body
      var last = -1L
      var stable = 0
      var waited = 0
      while (stable < 3 && waited < 10000) {
        val now = events.get
        if (now == last) stable += 1 else { stable = 0; last = now }
        Thread.sleep(50)
        waited += 50
      }
      (a, Bytes(shuffle.get, spill.get))
    } finally sc.removeSparkListener(listener)
  }

  /** Run `body` under the Spark job description `desc`, so its jobs are
    * labeled in [[measureJobs]] and the Spark UI, then put back whatever
    * description the caller had set (clearing it instead would erase the
    * caller's own label for every job after this step). */
  def withJobDescription[A](sc: org.apache.spark.SparkContext, desc: String)(body: => A): A = {
    val prior = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(desc)
    try body finally sc.setJobDescription(prior)
  }

  /** One row of [[measureJobs]] output: a Spark job's identity, the
    * description the driver set for it (`sc.setJobDescription`, else
    * the call site), its task count and wall span, and its task-level
    * shuffle-write/spill bytes. */
  final case class JobBytes(jobId: Int, desc: String, tasks: Long,
      wallMs: Long, bytes: Bytes)

  /** Per-JOB task-byte attribution — [[measureTasks]] split by job.
    *
    * [[measureTasks]] answers "what did this whole query cost at the
    * task level"; for ITERATIVE queries (connected components, the
    * index-absorb loop) whose cost is spread over many driver-dispatched
    * actions, the follow-up question is "WHICH action pays". This runs
    * `body` under a listener that maps each stage to its job
    * (`onJobStart` carries the job's stage ids) and accumulates
    * task-level bytes per job, labeled by the job description the
    * driver set. Same drain discipline as [[measureTasks]]: waits for
    * the listener-bus event count to go quiet before reading.
    *
    * Jobs are returned in jobId (submission) order, one row per job —
    * including zero-byte jobs, so row counts line up with the driver's
    * action sequence. */
  def measureJobs[A](spark: org.apache.spark.sql.SparkSession)(
      body: => A): (A, Seq[JobBytes]) = {
    import java.util.concurrent.atomic.AtomicLong
    import scala.collection.concurrent.TrieMap
    val sc = spark.sparkContext
    final class Acc {
      val shuffle = new AtomicLong
      val spill = new AtomicLong
      val tasks = new AtomicLong
      @volatile var desc = ""
      @volatile var started = 0L
      @volatile var ended = 0L
    }
    val jobs = new TrieMap[Int, Acc]
    val stageToJob = new TrieMap[Int, Int]
    val events = new AtomicLong
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val acc = jobs.getOrElseUpdate(e.jobId, new Acc)
        acc.started = e.time
        acc.desc = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(Option(e.properties)
            .flatMap(p => Option(p.getProperty("callSite.short"))))
          .getOrElse("")
        // putIfAbsent: a stage reused across jobs (skipped-stage reuse
        // re-submits the same stage id under a later job) must keep its
        // bytes with the job that actually EXECUTED it, not whichever
        // job registered the id last
        e.stageIds.foreach(sid => stageToJob.putIfAbsent(sid, e.jobId))
        events.incrementAndGet()
      }
      override def onJobEnd(
          e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
        jobs.get(e.jobId).foreach(_.ended = e.time)
        events.incrementAndGet()
      }
      override def onTaskEnd(
          e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        if (m != null) stageToJob.get(e.stageId).flatMap(jobs.get).foreach { acc =>
          acc.shuffle.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          acc.spill.addAndGet(m.memoryBytesSpilled)
          acc.tasks.incrementAndGet()
        }
        events.incrementAndGet()
      }
    }
    sc.addSparkListener(listener)
    try {
      val a = body
      var last = -1L
      var stable = 0
      var waited = 0
      while (stable < 3 && waited < 10000) {
        val now = events.get
        if (now == last) stable += 1 else { stable = 0; last = now }
        Thread.sleep(50)
        waited += 50
      }
      val rows = jobs.toSeq.sortBy(_._1).map { case (id, acc) =>
        JobBytes(id, acc.desc, acc.tasks.get,
          math.max(0L, acc.ended - acc.started),
          Bytes(acc.shuffle.get, acc.spill.get))
      }
      (a, rows)
    } finally sc.removeSparkListener(listener)
  }
}
