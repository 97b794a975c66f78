package graft

import org.apache.spark.sql.functions._
import graft.operators.Components

/** Connected components: differential check vs an in-memory union-find on
  * random graphs, plus the shapes that break naive propagation (long
  * paths — pointer jumping must collapse them within the round budget —
  * self-loops, duplicate/reversed edges, isolated pairs). */
class ComponentsSpec extends SparkSpec {
  import spark.implicits._

  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    // canonical label = min member id of the component
    val members = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val byRoot = members.groupBy(find)
    byRoot.flatMap { case (_, ms) => val m = ms.min; ms.map(_ -> m) }.toMap
  }

  private def cc(edges: Seq[(Long, Long)]): Map[Long, Long] =
    Components.connectedComponents(edges.toDF("a", "b"), "a", "b")
      .as[(Long, Long)].collect().toMap

  test("matches union-find on random graphs") {
    val rnd = new scala.util.Random(7)
    (1 to 5).foreach { _ =>
      val n = 80
      val edges = Seq.fill(100)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      assert(cc(edges) == unionFind(edges))
    }
  }

  test("collapses a 64-node path within the round budget (pointer jumping)") {
    val path = (0L until 63L).map(i => (i + 1, i)) // worst case for plain propagation
    val got = cc(path)
    assert(got.size == 64 && got.values.forall(_ == 0L))
  }

  test("self-loops and duplicate/reversed edges are harmless; pairs stay separate") {
    val edges = Seq((5L, 5L), (1L, 2L), (2L, 1L), (1L, 2L), (8L, 9L))
    val got = cc(edges)
    assert(got == Map(1L -> 1L, 2L -> 1L, 8L -> 8L, 9L -> 8L))
  }

  test("empty edge list yields an empty labeling") {
    assert(cc(Seq.empty[(Long, Long)]).isEmpty)
  }

  test("checkpoint storage is bounded: superseded rounds are unpersisted") {
    // a long path forces several propagate/jump rounds; without the
    // explicit unpersist every round's TWO checkpoints would pile up in
    // getPersistentRDDs until GC ran (the round-14 sf1000 OOM). Bound:
    // only the RETURNED labels frame (1 checkpoint) may survive the call
    // beyond whatever was persisted before it.
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val path = (0L until 63L).map(i => (i + 1, i))
    val labels = Components.connectedComponents(path.toDF("a", "b"), "a", "b")
    val leaked = sc.getPersistentRDDs.keySet -- before
    assert(leaked.size <= 1,
      s"expected at most the final labels checkpoint to survive, found ${leaked.size}")
    // and the survivor is the live result, not garbage: still readable
    assert(labels.count() == 64)
  }

  test("checkpoint job labels restore the caller's job description") {
    // every round's localCheckpoint runs under its own label; the label
    // the caller set before the call must still be in place after it
    val sc = spark.sparkContext
    sc.setJobDescription("caller: dedup stage")
    try {
      assert(cc(Seq((1L, 2L), (2L, 3L))).values.toSet == Set(1L))
      assert(sc.getLocalProperty("spark.job.description") == "caller: dedup stage")
    } finally sc.setJobDescription(null)
  }

  test("the caller's edge pipeline is materialized exactly once") {
    // the round-15 dup_clusters find, pinned: CC consumes its edges frame
    // from several materializing actions (sym, labels0), and its own
    // self-loop filter used to push down INTO the caller's plan, splitting
    // a multi-consumed subtree into canonical variants that defeat
    // exchange reuse — at sf1000 the verified-pairs pipeline (and its
    // 12 GB census sort) executed twice to four times per query. With the
    // raw-edges checkpoint in place, the caller's pipeline must run ONCE:
    // total file bytes read across every job of the call stays ~1× the
    // backing parquet (re-reads would step it to 2×+).
    // the caller pipeline's executions are counted directly: an
    // accumulator-marking projection evaluates once per row per
    // materialization, so N edge rows seen ≈ one pass. (A UDF in a TEST
    // as an execution counter — the library itself stays UDF-free.)
    val evals = spark.sparkContext.longAccumulator("cc_edge_evals")
    val mark = org.apache.spark.sql.functions.udf { (x: Long) =>
      evals.add(1); x
    }.asNondeterministic() // keep the optimizer from collapsing/cloning it
    val edges = spark.range(10000)
      .selectExpr("(2 * id) AS a0", "(2 * id + 1) AS b")
      .select(mark(col("a0")).as("a"), col("b"))
    val n = Components.connectedComponents(edges, "a", "b").count()
    assert(n == 20000)
    assert(evals.value <= 15000,
      s"caller pipeline evaluated ${evals.value} marked rows for a " +
        "10000-row edge list — it re-executed instead of being checkpointed once")
  }

  test("labels are invariant under edge order and input partitioning") {
    val rnd = new scala.util.Random(11)
    val edges = Seq.fill(60)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
      .filter { case (a, b) => a != b }
    val base = cc(edges)
    val shuffled = rnd.shuffle(edges)
    val repartitioned = Components.connectedComponents(
      shuffled.toDF("a", "b").repartition(7), "a", "b")
      .as[(Long, Long)].collect().toMap
    assert(repartitioned == base)
  }

  test("dedup family algebra on real documents: partition, containment, disjointness") {
    val d = "/root/testdata/sf0.001"
    val docs = graft.sources.Tables.documents(spark, d).select("doc_id")
    val clusters = SparkEntry.queries("dup_clusters")(spark, d).cache()
    val kept = SparkEntry.queries("corpus_dedup")(spark, d).select("doc_id")
    // labels never exceed their node id (comp = component MIN)
    assert(clusters.filter($"cluster_id" > $"doc_id").isEmpty)
    // kept ∪ dropped partitions the corpus exactly
    val dropped = clusters.filter($"doc_id" =!= $"cluster_id").select("doc_id")
    assert(kept.intersect(dropped).isEmpty)
    assert(kept.unionByName(dropped).exceptAll(docs).isEmpty &&
      docs.exceptAll(kept.unionByName(dropped)).isEmpty)
    // incremental gate: nothing it keeps has a content-hash twin in the corpus
    val inc = SparkEntry.queries("incremental_dedup")(spark, d).select("doc_id")
    val hashes = graft.sources.Tables.documents(spark, d)
      .select($"doc_id", org.apache.spark.sql.functions.sha2($"text", 256).as("h"))
    val batchKept = inc.join(hashes, "doc_id")
    val corpusH = hashes.filter($"doc_id" < 400).select("h")
    assert(batchKept.join(corpusH, Seq("h"), "left_semi").isEmpty)
    clusters.unpersist()
  }

  test("converges on a 20k-node random graph with a giant component") {
    val rnd = new scala.util.Random(3)
    val n = 20000
    val edges = Seq.fill(30000)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      .filter { case (a, b) => a != b }
    val got = cc(edges)
    val want = unionFind(edges)
    assert(got == want)
    // 30k edges over 20k nodes sit past the giant-component threshold —
    // make sure the fixture actually exercises a deep component
    val biggest = want.groupBy(_._2).map(_._2.size).max
    assert(biggest > n / 2, s"fixture lost its giant component ($biggest)")
  }

  test("train_split and per_source_cap are deterministic on real documents") {
    val d = "/root/testdata/sf0.001"
    val split = SparkEntry.queries("train_split")(spark, d)
    val again = SparkEntry.queries("train_split")(spark, d)
    assert(split.exceptAll(again).isEmpty && again.exceptAll(split).isEmpty)
    val splits = split.select("split").distinct().as[String].collect().toSet
    assert(splits.subsetOf(Set("train", "val", "test")) && splits.contains("train"))
    val capped = SparkEntry.queries("per_source_cap")(spark, d)
      .groupBy("source").count().agg(max("count")).as[Long].head()
    assert(capped <= 30L)
  }
}
