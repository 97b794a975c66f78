package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.plans.PlanMetrics

/** Distributed connected components over an edge list — the CLUSTERING
  * stage of near-duplicate dedup that turns LSH candidate pairs into
  * duplicate clusters (pairs say "a≈b"; keeping one doc per *cluster*
  * needs the transitive closure: a≈b, b≈c ⇒ {a,b,c} is one group).
  *
  * Algorithm: min-label propagation with pointer jumping.
  *  - every node starts labeled with its own id;
  *  - each round, a node takes the min label across itself and its
  *    neighbors (one edge-join + groupBy-min shuffle), then labels are
  *    pointer-jumped (`comp ← comp(comp)`, one self-join) so label chains
  *    collapse exponentially — O(log n) rounds even on path graphs, vs
  *    O(diameter) for plain propagation;
  *  - fixpoint detection: per-node labels are monotone non-increasing, so
  *    the global label sum strictly decreases until converged — one cheap
  *    scalar action per round, no row-level diff. The sum is EXACT
  *    decimal(38,0), not Long: with large integral ids (e.g. 60-bit
  *    hashed ids, which the API admits) a Long sum can wrap 2^64 and
  *    falsely converge (ADVICE r06); n ≤ 2^63 labels each < 2^63 bound
  *    the decimal sum by 2^126 < 10^38, so it cannot.
  *
  * The result is deterministic independent of partitioning: each node's
  * final label is the MINIMUM node id of its component.
  *
  * Scale: per round, 3 shuffles (edge join on node id; the two jump-join
  * sides). Lineage is cut with eager `localCheckpoint`s per round —
  * without them the iterated plan doubles each round and the optimizer
  * chokes long before the data does (production would use a reliable
  * `checkpoint` dir instead; same shape). Superseded rounds' checkpoint
  * blocks are unpersisted explicitly as soon as the next frame is
  * materialized, so live storage is bounded by ~two round-sized frames
  * however many rounds run (see bookkeeping comment in the body). A giant component makes its
  * label a hot PROBE-side join key in the jump step; the build side stays
  * one row per key, and because both jump sides read a materialized frame
  * through dedicated shuffles, AQE's skew-join split bounds the hot
  * partition without salting (proved by ScaleTechniquesSpec's star-graph
  * metric test).
  *
  * Dedup-clustering context (near-dup pipeline stage 3, after
  * shingle→band bucketing and in-bucket verification): see
  * `/root/reference` S3→ETL dedup discussion in SURVEY §2.6; the
  * pairs→clusters→keeper chain itself is standard LSH-dedup practice.
  */
object Components {

  /** Connected components of the undirected graph given by `edges`.
    *
    * @param edges  edge list; self-loops ignored, direction ignored
    * @param srcCol source node id column (integral)
    * @param dstCol target node id column (integral)
    * @return one row per DISTINCT node appearing in `edges`:
    *         (`id`, `comp`) with `comp` = min node id of its component
    */
  def connectedComponents(edges: DataFrame, srcCol: String, dstCol: String,
      maxRounds: Int = 20): DataFrame = {
    // integral ids are a hard precondition (labels are node ids and the
    // fixpoint check sums them): fail loudly up front — a silent
    // cast-to-long of e.g. string ids would null every edge under
    // non-ANSI configs and "converge" on an empty labeling
    Seq(srcCol, dstCol).foreach { c =>
      val dt = edges.schema(edges.schema.fieldIndex(c)).dataType
      require(dt.isInstanceOf[org.apache.spark.sql.types.ByteType] ||
        dt.isInstanceOf[org.apache.spark.sql.types.ShortType] ||
        dt.isInstanceOf[org.apache.spark.sql.types.IntegerType] ||
        dt.isInstanceOf[org.apache.spark.sql.types.LongType],
        s"connectedComponents needs integral node ids; '$c' is ${dt.catalogString} " +
          "(map non-numeric ids through a dictionary first)")
    }
    // Checkpoint-block bookkeeping: each round checkpoints two frames,
    // and on a big graph the ContextCleaner's reference-triggered
    // cleanup lags the heap's GC badly enough that EVERY round's blocks
    // coexist — R rounds × (propagated + jumped) + sym held at once is
    // what ran the 1e10-span corpus-dedup run out of an 8 GB heap in
    // round 14. Blocks are therefore freed EXPLICITLY the moment no
    // future computation can touch them (localCheckpoint truncates
    // lineage, so a block must only be dropped once every frame built
    // on it is itself materialized — eager checkpointing makes "created
    // downstream frame" equal "safe to drop"). Live storage is then
    // bounded by TWO round-sized frames regardless of round count.
    // localCheckpoint persists at the RDD layer (not the cacheManager),
    // so the handle for freeing is the persistent-RDD id delta around
    // each checkpoint call.
    val sc = edges.sparkSession.sparkContext
    // each materializing action is labeled so [[graft.plans.PlanMetrics
    // .measureJobs]] (and the Spark UI) can attribute task-level bytes to
    // the construction step that paid them
    def checkpointTracked(desc: String, df: DataFrame): (DataFrame, Set[Int]) = {
      val before = sc.getPersistentRDDs.keySet
      val out = PlanMetrics.withJobDescription(sc, desc)(df.localCheckpoint())
      (out, (sc.getPersistentRDDs.keySet -- before).toSet)
    }
    // label-frame checkpoint with the fixpoint sums FUSED into the
    // materializing action (round 20): the sums ride an `observe` node
    // on the SAME pass that localCheckpoint already runs, so a round
    // costs its two materializations and nothing else — the old
    // separate `labelSum` action was one extra job per round (plus one
    // for the initial labels), pure driver-latency at every scale and
    // ~15% of dup_clusters' 47-job budget at sf0.1. `sum(id)` rides
    // along because label frames always carry each node exactly once:
    // round 0 reads it as "what the sum WAS before this propagate"
    // (identity labels), which replaces the old labelSum0 action too.
    // Both sums are exact decimal(38,0) — see the wrap-proof scaladoc.
    def checkpointSummed(desc: String, df: DataFrame)
        : (DataFrame, Set[Int], java.math.BigDecimal, java.math.BigDecimal) = {
      val obs = org.apache.spark.sql.Observation()
      val dec = org.apache.spark.sql.types.DecimalType(38, 0)
      // EXACTNESS INVARIANT (ADVICE r20 #3): the observe node must sit
      // at the TOP of the checkpointed plan, where it executes in the
      // RESULT stage of the checkpoint action — accumulator updates from
      // a result stage apply exactly once, so the sums are exact. A
      // refactor that pushes the observe BELOW a shuffle boundary would
      // expose the sums to stage-retry over-counting and perturb
      // convergence detection. `df.observe(...)` immediately under
      // `localCheckpoint()` (inside checkpointTracked) is that placement.
      val (out, ids) = checkpointTracked(desc,
        df.observe(obs,
          sum(col("comp").cast(dec)).as("_comp_sum"),
          sum(col("id").cast(dec)).as("_id_sum")))
      // the eager localCheckpoint above has already driven the plan, so
      // the observed row is available; the await inside `get` returns
      // immediately (bounded wait as a listener-race guard)
      def d(v: Any): java.math.BigDecimal = v match {
        case null => java.math.BigDecimal.ZERO
        case b: java.math.BigDecimal => b
        case b: scala.math.BigDecimal => b.bigDecimal
        case x => new java.math.BigDecimal(x.toString)
      }
      try {
        val m = scala.concurrent.Await.result(
          scala.concurrent.Future(obs.get)(
            scala.concurrent.ExecutionContext.global),
          scala.concurrent.duration.Duration(30, "s"))
        (out, ids, d(m.getOrElse("_comp_sum", null)), d(m.getOrElse("_id_sum", null)))
      } catch {
        case _: java.util.concurrent.TimeoutException =>
          // ADVICE r20 #1: metric delivery rides the listener bus, and a
          // congested bus (large bench JVMs, queued events) could starve
          // the 30 s guard even though the data is already materialized.
          // Rather than abort the whole query, recompute the sums with a
          // direct aggregate over the just-checkpointed frame — same rows
          // (lineage is truncated to the checkpoint blocks), same exact
          // decimal(38,0) arithmetic, one extra scan of cached blocks on
          // a path that by construction almost never runs.
          val r = out.agg(
            sum(col("comp").cast(dec)).as("_comp_sum"),
            sum(col("id").cast(dec)).as("_id_sum")).head()
          (out, ids, d(r.get(0)), d(r.get(1)))
      }
    }
    def drop(ids: Set[Int]): Unit =
      ids.foreach(id => sc.getPersistentRDDs.get(id).foreach(_.unpersist(blocking = false)))
    // The caller's edge frame is materialized FIRST — untouched, before
    // this function's own select/filter/distinct is stacked on it — for
    // two reasons, both measured on dup_clusters at sf1000 (per-job
    // attribution: r15m/sf1000_ccfix/dup_clusters_jobs):
    //  1. the `sym` checkpoint references it THREE times (both union
    //     orientations + the node self-loops) — materialized, those are
    //     three reads of edge-sized blocks; un-checkpointed they are
    //     three subplan copies of the caller's entire pipeline, whose
    //     reuse is at the optimizer's mercy (when round-15 measured it
    //     across two actions, the re-run cost ~137 s / 12 GB spill);
    //  2. the self-loop filter below, if planned in the SAME query as
    //     the caller's pipeline, is pushed down INTO it and splits its
    //     internally-shared candidate frame into two canonical variants
    //     (one with the pushed NOT(u=v), one without, feeding the
    //     member-id projections) — variants cannot reuse each other's
    //     exchanges, so the LSH census pipeline executed twice per
    //     query (two 12 GB sort stages in the job profile). The
    //     checkpoint is an optimizer boundary: nothing of CC's plan can
    //     reach into the caller's.
    // The select/filter/distinct then run over materialized edge-sized
    // blocks — cheap enough to re-derive inside each consuming job (the
    // in-job references share their exchange via reuse as before).
    // Only the two id columns are checkpointed: a caller's edge frame
    // often carries similarity scores / band keys CC never reads, and
    // localCheckpoint stores the frame at full row width. The single
    // pre-checkpoint projection cannot split the caller's plan into
    // variants (one reference, nothing pushed INTO it), so reason 2
    // above still holds while stored blocks shrink to two longs/row.
    val (edgesRaw, rawIds) = checkpointTracked("cc:edges",
      edges.select(col(srcCol), col(dstCol)))
    val e = edgesRaw
      .select(col(srcCol).cast("long").as("u"), col(dstCol).cast("long").as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
    // symmetrize AND add a self-loop per node: with (v,v) present, one
    // edge-join + groupBy-min computes min(own label, neighbor labels) in a
    // single shuffle pair — no label∪neighbor union inside the loop.
    // (The apparent redundant exchange here — distinct-under-distinct on
    // the node list — was checked in round 21 and is NOT one: the
    // optimizer pushes the outer distinct into every union leg and
    // eliminates the inner aggregate, so the plan with and without this
    // .distinct() is bit-identical. Kept as written.)
    val nodes = e.select(col("u").as("n")).union(e.select(col("v").as("n"))).distinct()
    val (sym, symIds) = checkpointTracked("cc:sym",
      e.union(e.select(col("v").as("u"), col("u").as("v")))
        .union(nodes.select(col("n").as("u"), col("n").as("v")))
        .distinct())
    // sym is the loop's ONLY input — the initial identity labeling is
    // not materialized at all (round 20): round 0's propagate over
    // identity labels algebraically needs no label join
    // (min over comp=id of u∈N(v)∪{v} is just groupBy(v).min(u) of the
    // self-looped sym), so the old `cc:labels0` checkpoint and its
    // separate `cc:labelSum0` action are gone — their information rides
    // round 0's fused observe (`sum(id)` of a label frame IS the
    // identity-label sum).
    drop(rawIds)

    var labels: DataFrame = null
    var labelIds: Set[Int] = Set.empty
    var prevSum: java.math.BigDecimal = null
    var round = 0
    var converged = false
    while (!converged && round < maxRounds) {
      // checkpointed for two reasons: (1) self-joined below — without the
      // cut the whole propagate subtree is computed once PER JOIN SIDE;
      // (2) AQE's OptimizeSkewedJoin only splits a skewed partition when
      // the join side sits on a dedicated shuffle stage — fused onto the
      // aggregate output, the giant component's hot label key would be
      // read whole by one task (ScaleTechniquesSpec pins the split)
      val (propagated, propIds, propSum, propIdSum) =
        checkpointSummed(s"cc:round$round:propagate",
          if (round == 0)
            sym.select(col("v").as("id"), col("u").as("comp"))
              .groupBy("id").agg(min("comp").as("comp"))
          else
            sym.join(labels, sym("u") === labels("id"))
              .select(sym("v").as("id"), labels("comp"))
              .groupBy("id").agg(min("comp").as("comp")))
      // fixpoint = the exact label sum stopped decreasing under a
      // propagate step (labels are monotone non-increasing per node and
      // decimal(38,0) cannot wrap — scaladoc). An unchanged PROPAGATE is
      // the convergence condition itself (every node already holds the
      // min over its closed neighborhood ⇒ labels are constant per
      // component ⇒ = the component min), so the confirming round skips
      // the pointer jump entirely — the old jumped-sum check paid one
      // extra jump join + labelSum action for the same information.
      // Round 0's baseline is the identity-label sum, observed on the
      // same pass (propagate emits every node exactly once).
      val baseline = if (round == 0) propIdSum else prevSum
      if (propSum.compareTo(baseline) == 0) {
        // propagate was a no-op ⇒ `propagated` row-equals `labels` (or
        // the identity labeling at round 0, the no-edges case); return
        // it and free the superseded previous round
        drop(labelIds)
        labels = propagated
        labelIds = propIds
        converged = true
      } else {
        // pointer jump: comp ← comp's own label (comp values are node
        // ids, and every node has a label row, so the inner join is
        // total). The jump's sum seeds the next round's baseline — also
        // fused into its checkpoint.
        val (jumped, jumpIds, jumpSum, _) =
          checkpointSummed(s"cc:round$round:jump",
            propagated.as("a")
              .join(propagated.as("b"), col("a.comp") === col("b.id"))
              .select(col("a.id").as("id"), col("b.comp").as("comp")))
        // jumped is materialized (eager checkpoint) — this round's inputs
        // can never be read again; free them now, not at ContextCleaner's
        // leisure
        drop(labelIds); drop(propIds)
        prevSum = jumpSum
        labels = jumped
        labelIds = jumpIds
      }
      round += 1
    }
    drop(symIds)
    // pointer jumping halves label-chain depth per round, so the default
    // budget covers diameters past 2^20; running out means something is
    // structurally wrong (or a pathological maxRounds override) — wrong
    // labels must never be returned silently
    if (!converged) throw new IllegalStateException(
      s"connectedComponents did not converge within $maxRounds rounds")
    labels
  }
}
