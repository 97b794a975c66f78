package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The `catalog` input: the ten tables the query catalog reads (a TPC-H-like
  * star schema, an `events` stream, a `documents` text corpus and an
  * `embeddings` vector table), generated at scale factor `sf` with the
  * columns and value ranges of the fixtures the catalog was written
  * against.
  *
  * The content is a pure function of (FixtureSeed, sf): the expected
  * per-row results beside the benchmark hold for every run, and the
  * workload seed only permutes the order the rows run in. Each table is one
  * parquet file, written by one task. */
object CatalogFixture {

  val FixtureSeed = 42L
  /** Bump when the generated content changes, so a stale cached copy is
    * never read. */
  val Version = 1

  private def h(tag: Int, cols: Column*): Column =
    xxhash64((lit(FixtureSeed) +: lit(tag) +: cols): _*)

  /** Uniform integer in [0, n). */
  private def ui(n: Long, tag: Int, cols: Column*): Column = pmod(h(tag, cols: _*), lit(n))

  /** Uniform double in [0, 1). */
  private def uf(tag: Int, cols: Column*): Column =
    pmod(h(tag, cols: _*), lit(1000000007L)).cast("double") / 1000000007.0

  private def pickOf(xs: Seq[String], tag: Int, cols: Column*): Column =
    element_at(array(xs.map(lit): _*), (ui(xs.length.toLong, tag, cols: _*) + 1).cast("int"))

  private def days(base: String, n: Column): Column =
    (unix_timestamp(lit(base), "yyyy-MM-dd") + n * 86400L).cast("timestamp").cast("timestamp_ntz")

  private val Words = Seq("a", "the", "key", "agg", "row", "scan", "slow", "fast", "table",
    "value", "part", "hash", "merge", "batch", "spark", "line", "sort", "window", "order",
    "data", "column", "join", "small", "big", "customer", "query", "filter", "stream",
    "group", "vector")

  def tables(spark: SparkSession, sf: Double): Seq[(String, DataFrame)] = {
    def n(base: Long): Long = math.max(1L, math.round(base * sf))
    val id = col("id")
    val nCust = n(150000); val nSupp = n(10000); val nPart = n(200000)
    val nOrders = n(1500000); val nEvents = n(1000000)
    val nDocs = math.max(500L, n(50000)); val nVecs = math.max(500L, n(20000))

    val region = spark.range(5).select(id.cast("int").as("r_regionkey"),
      element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").map(lit): _*),
        (id + 1).cast("int")).as("r_name"))
    val nation = spark.range(25).select(id.cast("int").as("n_nationkey"),
      concat(lit("NATION_"), id).as("n_name"), pmod(id, lit(5)).cast("int").as("n_regionkey"))
    val customer = spark.range(nCust).select(id.as("c_custkey"),
      format_string("Customer#%09d", id).as("c_name"),
      ui(25, 1, id).cast("int").as("c_nationkey"),
      round(uf(2, id) * 10998.99 - 999.99, 2).as("c_acctbal"),
      pickOf(Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"), 3, id)
        .as("c_mktsegment"))
    val supplier = spark.range(nSupp).select(id.as("s_suppkey"),
      format_string("Supplier#%09d", id).as("s_name"),
      ui(25, 4, id).cast("int").as("s_nationkey"),
      round(uf(5, id) * 10998.99 - 999.99, 2).as("s_acctbal"))
    val part = spark.range(nPart).select(id.as("p_partkey"),
      concat_ws(" ",
        pickOf(Seq("red", "blue", "green", "small", "large", "shiny", "matte", "steel"), 6, id),
        pickOf(Seq("widget", "bolt", "ring", "gear", "valve", "panel", "spring", "clamp"), 7, id))
        .as("p_name"),
      concat(lit("Brand#"), (ui(25, 8, id) + 1)).as("p_brand"),
      pickOf(Seq("ECONOMY", "SMALL", "STANDARD", "MEDIUM", "LARGE", "PROMO"), 9, id).as("p_type"),
      (ui(50, 10, id) + 1).cast("int").as("p_size"),
      round(lit(900.0) + pmod(id, lit(1000L)) / 10.0, 2).as("p_retailprice"))
    val orders = spark.range(nOrders).select(id.as("o_orderkey"),
      ui(nCust, 11, id).as("o_custkey"),
      pickOf(Seq("F", "O", "P"), 12, id).as("o_orderstatus"),
      round(uf(13, id) * 500000 + 1000, 2).as("o_totalprice"),
      days("1995-01-01", ui(2404, 14, id)).as("o_orderdate"),
      pickOf(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"), 15, id)
        .as("o_orderpriority"))
    val lineitem = spark.range(nOrders)
      .select(id.as("o"), explode(sequence(lit(1), (ui(7, 16, id) + 1).cast("int"))).as("ln"))
      .select(col("o").as("l_orderkey"),
        ui(nPart, 17, col("o"), col("ln")).as("l_partkey"),
        ui(nSupp, 18, col("o"), col("ln")).as("l_suppkey"),
        col("ln").cast("int").as("l_linenumber"),
        (ui(50, 19, col("o"), col("ln")) + 1).cast("double").as("l_quantity"),
        round(uf(20, col("o"), col("ln")) * 100000 + 900, 2).as("l_extendedprice"),
        (ui(11, 21, col("o"), col("ln")).cast("double") / 100).as("l_discount"),
        (ui(9, 22, col("o"), col("ln")).cast("double") / 100).as("l_tax"),
        pickOf(Seq("A", "N", "R"), 23, col("o"), col("ln")).as("l_returnflag"),
        pickOf(Seq("F", "O"), 24, col("o"), col("ln")).as("l_linestatus"),
        days("1995-01-02", ui(2498, 25, col("o"), col("ln"))).as("l_shipdate"))
    val events = spark.range(nEvents).select(id.as("event_id"),
      (unix_timestamp(lit("2024-01-01"), "yyyy-MM-dd") +
        id * (30.0 * 86400 / nEvents) + uf(26, id) * 60)
        .cast("timestamp").cast("timestamp_ntz").as("ts"),
      ui(math.max(10L, nEvents * 3 / 200), 27, id).as("user_id"),
      pickOf(Seq("click", "error", "purchase", "signup", "view"), 28, id).as("event_type"),
      round(uf(29, id) * 560, 2).as("value"),
      format_string("{\"k\": %d}", ui(100, 30, id)).as("props"))
    val documents = {
      // a tenth of the corpus are near-duplicates of an earlier document
      // (one token in ten replaced), and one in a hundred exact copies
      val dup = ui(100, 31, id)
      val src = when(id >= 20 && dup < 10, id - ui(20, 32, id) - 1).otherwise(id)
      val len = (ui(60, 33, src) + 8).cast("int")
      val words = array(Words.map(lit): _*)
      val token = (k: Column) =>
        element_at(words, (when(dup > 0 && dup < 10 && ui(10, 34, id, k) === 0, ui(Words.length, 35, id, k))
          .otherwise(ui(Words.length, 36, src, k)) + 1).cast("int"))
      spark.range(nDocs).select(id.as("doc_id"),
        concat_ws(" ", transform(sequence(lit(0), len - 1), token)).as("text"),
        element_at(array(Seq("en", "en", "en", "en", "de", "fr", "es", "zh").map(lit): _*),
          (ui(8, 37, id) + 1).cast("int")).as("lang"),
        concat(lit("src"), ui(20, 38, id)).as("source"))
        .withColumn("n_chars", length(col("text")).cast("long"))
    }
    val embeddings = {
      val label = ui(10, 39, id)
      val raw = transform(sequence(lit(0), lit(63)), k =>
        (uf(40, label, k) - 0.5) + (uf(41, id, k) + uf(42, id, k) + uf(43, id, k) - 1.5) * 0.6)
      spark.range(nVecs).select(id.as("vec_id"), raw.as("raw"), label.cast("int").as("label"))
        .select(col("vec_id"),
          transform(col("raw"), x => (x / sqrt(aggregate(col("raw"), lit(0.0), (a, y) => a + y * y)))
            .cast("float")).as("embedding"),
          col("label"))
    }
    Seq("region" -> region, "nation" -> nation, "customer" -> customer,
      "supplier" -> supplier, "part" -> part, "orders" -> orders, "lineitem" -> lineitem,
      "events" -> events, "documents" -> documents, "embeddings" -> embeddings)
  }

  /** Generate into `dir` unless a complete copy of this version is there. */
  def ensure(spark: SparkSession, dir: String, sf: Double): String = {
    val root = new java.io.File(dir)
    val done = new java.io.File(root, "_COMPLETE")
    if (!done.isFile) {
      deleteTree(root)
      tables(spark, sf).foreach { case (name, df) =>
        df.coalesce(1).write.parquet(s"$dir/$name.parquet")
      }
      java.nio.file.Files.write(done.toPath, Array.emptyByteArray)
    }
    dir
  }

  def deleteTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteTree)
    f.delete()
    ()
  }
}
