package perfbench

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.queries.Q

class HarnessSpec extends AnyFunSuite {

  test("the crawl corpus is identical for a seed and differs across seeds") {
    def world(seed: Long) = new CrawlWorld(seed, CrawlIngest.Full)
    val a = world(7); val b = world(7); val c = world(8)
    assert(a.pool == b.pool && a.matches(0) == b.matches(0) && a.matches(1) == b.matches(1))
    assert(a.matches(0) != c.matches(0))
    def docs(w: CrawlWorld): Seq[String] = w.matches(0).take(50).flatMap { case (id, creation, ps) =>
      assert(ps.distinct.length == 10)
      Seq(Riot.matchDoc(w.seed, id, creation, ps, None),
        Riot.timelineDoc(w.seed, id, creation, ps, CrawlIngest.Full.frames))
    }
    val (da, db, dc) = (docs(a), docs(b), docs(c))
    assert(da.map(_.getBytes("UTF-8").toSeq) == db.map(_.getBytes("UTF-8").toSeq))
    assert(da != dc)
  }

  test("the API's fetch outcomes are a function of the seed and the attempt") {
    val spark = SparkSession.builder().master("local[1]").appName("perfbench-spec")
      .config("spark.ui.enabled", "false").getOrCreate()
    try {
      def outcomes(seed: Long): Seq[String] = {
        val w = new CrawlWorld(seed, CrawlIngest.Full)
        val api = w.api(spark, 0, new CrawlWorld.VirtualClock(0L, seed), None)
        w.matches(0).flatMap { case (id, _, _) =>
          (1 to 3).map(_ => api.sources.fetchMatch(id) match {
            case graft.sources.Resilience.Ok(body) => s"ok:${body.hashCode}"
            case other => other.toString
          })
        }
      }
      assert(outcomes(3) == outcomes(3))
      // the workload injects errors: some 404s, and 429/5xx that clear on retry
      val all = (1L to 5L).flatMap(outcomes)
      assert(all.exists(_.startsWith("Status(404")))
      assert(all.exists(_.startsWith("Status(429")) && all.exists(_.startsWith("Status(503")))
      assert(all.count(_.startsWith("ok:")) > all.length * 9 / 10)
    } finally spark.stop()
  }

  test("open program defect: a second Crawl.run into one root replaces the first's batches") {
    val spark = SparkSession.builder().master("local[1]").appName("perfbench-spec")
      .config("spark.ui.enabled", "false").getOrCreate()
    try {
      val root = Files.createTempDirectory("perfbench_crawl")
      val crawl = new CrawlIngest(5, root, CrawlIngest.Tiny)
      val clock = new CrawlWorld.VirtualClock(crawl.world.window(0).endEpoch * 1000L, 5)
      def window(w: Int): Set[String] = {
        crawl.runWindow(spark, root, w, crawl.world.api(spark, w, clock, None), clock,
          Long.MaxValue)
        CrawlIngest.landedIds(root).keySet
      }
      val first = window(0)
      assert(first.nonEmpty)
      val both = window(1)
      assert(both.exists(id => !first.contains(id)))
      // the crawl_ingest workload hands window 1's batches on before window 2
      // (CrawlIngest.handOn); once this passes, that step can go
      pendingUntilFixed(assert(first.subsetOf(both)))
      Workloads.delete(root)
    } finally spark.stop()
  }

  test("tail percentile: p90, raised to the highest statistic with ten samples beyond it") {
    val xs = (1 to 120).map(_.toDouble)
    assert(Stats.tail(xs) == 110.0)
    assert(xs.count(_ > Stats.tail(xs)) == 10)
    assert(Stats.tail(scala.util.Random.shuffle(xs)) == 110.0)
    // fewer samples: nearest-rank p90
    assert(Stats.tail((1 to 11).map(_.toDouble)) == 10.0)
    assert(Stats.tail((1 to 10).map(_.toDouble)) == 9.0)
    assert(Stats.tail((1 to 100).map(_.toDouble)) == 90.0)
    assert(Stats.tail(Seq(3.0)) == 3.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0)) == 3.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("geometric mean of the operation walls") {
    assert(math.abs(Stats.geomean(Seq(1.0, 4.0, 16.0)) - 4.0) < 1e-12)
    assert(math.abs(Stats.geomean(Seq(0.5, 0.5)) - 0.5) < 1e-12)
    assertThrows[IllegalArgumentException](Stats.geomean(Seq(0.0, 1.0)))
  }

  test("a catalog row that throws or mismatches counts as failed; the rest pass") {
    val spark = SparkSession.builder().master("local[1]").appName("perfbench-spec")
      .config("spark.ui.enabled", "false").getOrCreate()
    try {
      val ok = Q("ok", (s, _) => s.range(3).toDF("x"), None)
      val boom = Q("boom", (_, _) => throw new IllegalStateException("boom"), None)
      val wrong = Q("wrong", (s, _) => s.range(4).toDF("x"), None)
      val want = Catalog.fingerprint(spark.range(3).toDF("x"))
      val root = Files.createTempDirectory("perfbench_cat")
      val cat = new Catalog(root, rows = Seq(ok, boom, wrong),
        expected = Map("ok" -> want, "wrong" -> want, "boom" -> want))
      val g = cat.group(spark, Tracer(enabled = false), 0)
      assert(g.attempted == 3)
      assert(g.failed == 2)
      assert(g.failures.exists(_.startsWith("boom threw")))
      assert(g.failures.exists(_.startsWith("wrong: got 4 rows")))
      assert(g.opSeconds.length == 2) // the row that threw has no wall
    } finally spark.stop()
  }

  test("the emitted metric names and units are exactly BENCHMARK.json's") {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val f = Seq("BENCHMARK.json", "../BENCHMARK.json").map(new java.io.File(_)).find(_.isFile)
      .getOrElse(fail("BENCHMARK.json not found"))
    val j = JsonMethods.parse(new String(Files.readAllBytes(f.toPath), "UTF-8"))
    def metrics(key: String): Seq[(String, String)] = (j \ key) match {
      case JArray(xs) => xs.map(x => ((x \ "name").asInstanceOf[JString].s,
        (x \ "unit").asInstanceOf[JString].s))
      case other => fail(s"$key is $other")
    }
    assert(metrics("end_to_end") == Main.EndToEnd.map(m => m.name -> m.unit))
    assert(metrics("per_layer") == Main.PerLayer.map(m => m.name -> m.unit))
    val workloads = (j \ "workloads") match {
      case JArray(xs) => xs.map(x => (x \ "name").asInstanceOf[JString].s)
      case other => fail(s"workloads is $other")
    }
    assert(workloads == Workloads.Names)
    // and the result line carries exactly the contract's keys
    val line = JsonMethods.parse(Main.resultLine(true, 2, 0,
      Main.EndToEnd.map(_ -> 1.25)))
    assert((line \ "metrics").asInstanceOf[JObject].obj.map(_._1) == Main.EndToEnd.map(_.name))
    assert(line.asInstanceOf[JObject].obj.map(_._1) ==
      List("correct", "attempted", "failed", "metrics"))
  }
}
