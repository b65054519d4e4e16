package graft.perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generator: the tables of the harness star schema that
  * `Queries6.assembledGraph` and `Queries54.demoGraph` read (customer,
  * nation, region, part, orders, lineitem, events — same column names
  * and types as the test-data tables) at scale factor `sf`, so both read
  * it unchanged.
  *
  * Every column is a pure hash of (seed, salt, row id) — the `SkewGen`
  * construction with the seed folded into the salt — so one seed always
  * yields the same rows, and each table is written as a fixed set of
  * parquet files under fixed names, so one seed yields byte-identical
  * files.
  *
  * Row counts per unit of scale follow the test data: customer 150k,
  * orders 1.5M, lineitem 6M (about 4 lines per order), part 200k,
  * events 1M over customers/10 actors.
  */
object Gen {

  final case class Sizes(sf: Double) {
    private def n(per: Double): Long = math.max(1L, math.round(per * sf))
    val customers: Long = n(150000)
    val orders: Long = n(1500000)
    val lineitems: Long = n(6000000)
    val parts: Long = n(200000)
    val events: Long = n(1000000)
    val actors: Long = math.max(1L, customers / 10)
    def rows: Map[String, Long] = Map(
      "customer" -> customers, "nation" -> 25L, "region" -> 5L,
      "part" -> parts, "orders" -> orders,
      "lineitem" -> lineitems, "events" -> events)
  }

  /** `pmod(xxhash64(seed, salt, id), m)` — the column-level hash every
    * generated value derives from. */
  def h(seed: Long, salt: Int, m: Long, id: Column = col("id")): Column =
    pmod(xxhash64(lit(seed), lit(salt), id), lit(m))

  /** Row ids 0 until n in fixed contiguous slices, one output file each. */
  private def ids(s: SparkSession, n: Long): DataFrame =
    s.range(0L, n, 1L, if (n > 100000L) 4 else 1).toDF()

  private def pick(values: Seq[String], idx: Column): Column =
    element_at(lit(values.toArray), (idx + 1).cast("int"))

  private val epoch2024 = 1704067200L // 2024-01-01T00:00:00Z
  private val epoch1995 = 788918400L // 1995-01-01T00:00:00Z
  private val days = 2403L // 1995-01-01 .. 2001-08-01

  def customer(s: SparkSession, seed: Long, z: Sizes): DataFrame =
    ids(s, z.customers).select(
      col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      h(seed, 30, 25).cast("int").as("c_nationkey"),
      (h(seed, 31, 1000000L).cast("double") / 100.0).as("c_acctbal"),
      pick(Seq("BUILDING", "MACHINERY", "AUTOMOBILE", "HOUSEHOLD",
        "FURNITURE"), h(seed, 32, 5)).as("c_mktsegment"))

  def nation(s: SparkSession): DataFrame =
    ids(s, 25).select(
      col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id")).as("n_name"),
      (col("id") % 5).cast("int").as("n_regionkey"))

  def region(s: SparkSession): DataFrame =
    ids(s, 5).select(
      col("id").cast("int").as("r_regionkey"),
      concat(lit("REGION_"), col("id")).as("r_name"))

  def part(s: SparkSession, seed: Long, z: Sizes): DataFrame = {
    val adj = Seq("small", "red", "blue", "large", "green", "steel")
    val noun = Seq("ring", "widget", "bolt", "pipe", "valve", "gear")
    ids(s, z.parts).select(
      col("id").as("p_partkey"),
      concat_ws(" ", pick(adj, h(seed, 60, 6)), pick(noun, h(seed, 61, 6)))
        .as("p_name"),
      concat(lit("Brand#"), h(seed, 62, 25)).as("p_brand"),
      pick(Seq("ECONOMY", "SMALL", "STANDARD", "PROMO", "LARGE"),
        h(seed, 63, 5)).as("p_type"),
      (h(seed, 64, 50) + 1).cast("int").as("p_size"),
      (lit(900.0) + col("id") % 1000 / 10.0).as("p_retailprice"))
  }

  /** Orders: key = row id; the customer, date and priority are hashes. */
  def orders(s: SparkSession, seed: Long, z: Sizes): DataFrame =
    ids(s, z.orders).select(
      col("id").as("o_orderkey"),
      h(seed, 20, z.customers).as("o_custkey"),
      pick(Seq("O", "F", "P"), h(seed, 21, 3)).as("o_orderstatus"),
      (h(seed, 22, 50000000L).cast("double") / 100.0).as("o_totalprice"),
      timestamp_seconds(lit(epoch1995) + h(seed, 23, days) * 86400L)
        .as("o_orderdate"),
      pick(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"),
        h(seed, 24, 5)).as("o_orderpriority"))

  def lineitem(s: SparkSession, seed: Long, z: Sizes): DataFrame =
    ids(s, z.lineitems).select(
      h(seed, 50, z.orders).as("l_orderkey"),
      h(seed, 51, z.parts).as("l_partkey"),
      h(seed, 52, math.max(1L, z.customers / 15)).as("l_suppkey"),
      (h(seed, 53, 7) + 1).cast("int").as("l_linenumber"),
      (h(seed, 54, 50) + 1).cast("double").as("l_quantity"),
      (h(seed, 55, 10000000L).cast("double") / 100.0).as("l_extendedprice"),
      (h(seed, 56, 11).cast("double") / 100.0).as("l_discount"),
      (h(seed, 57, 9).cast("double") / 100.0).as("l_tax"),
      pick(Seq("A", "N", "R"), h(seed, 58, 3)).as("l_returnflag"),
      pick(Seq("O", "F"), h(seed, 59, 2)).as("l_linestatus"),
      timestamp_seconds(lit(epoch1995) + h(seed, 49, days) * 86400L)
        .as("l_shipdate"))

  def events(s: SparkSession, seed: Long, z: Sizes): DataFrame =
    ids(s, z.events).select(
      col("id").as("event_id"),
      timestamp_seconds(lit(epoch2024) + h(seed, 10, 30L * 86400))
        .as("ts"),
      h(seed, 11, z.actors).as("user_id"),
      pick(Seq("click", "view", "purchase", "signup", "error"),
        h(seed, 12, 5)).as("event_type"),
      (h(seed, 13, 10000L).cast("double") / 100.0).as("value"),
      format_string("{\"k\": %d}", h(seed, 14, 100)).as("props"))

  /** Tables `Queries54.demoGraph` reads. */
  val DemoTables: Set[String] =
    Set("customer", "nation", "region", "part", "orders", "lineitem")

  /** Tables `Queries6.assembledGraph` reads. */
  val AssemblyTables: Set[String] =
    Set("customer", "nation", "part", "orders", "lineitem", "events")

  /** Write the tables of scale `sf` named in `only` under `dir` as
    * `<table>.parquet/part-<i>.parquet`; returns the row count per table
    * written. */
  def write(s: SparkSession, dir: String, seed: Long, sf: Double,
            only: Set[String]): Map[String, Long] = {
    val z = Sizes(sf)
    val tables = Seq(
      "customer" -> customer(s, seed, z), "nation" -> nation(s),
      "region" -> region(s),
      "part" -> part(s, seed, z), "orders" -> orders(s, seed, z),
      "lineitem" -> lineitem(s, seed, z), "events" -> events(s, seed, z))
    val chosen = tables.filter { case (name, _) => only(name) }
    // independent jobs: write the tables concurrently
    val pool = java.util.concurrent.Executors.newFixedThreadPool(chosen.length)
    try chosen.map { case (name, df) =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = writeOne(df, s"$dir/$name.parquet")
        })
      }.foreach(_.get())
    finally pool.shutdown()
    z.rows.filter { case (name, _) => only(name) }
  }

  /** Write `df` (one Spark partition per output file, in order) and
    * rename the files `part-<i>.parquet`: Spark's part-file names carry
    * a per-job UUID, the rename makes the layout seed-deterministic. */
  private def writeOne(df: DataFrame, path: String): Unit = {
    val tmp = new File(path + ".tmp")
    df.write.mode("overwrite").option("compression", "snappy").parquet(tmp.getPath)
    val parts = tmp.listFiles().map(_.getName)
      .filter(n => n.startsWith("part-") && n.endsWith(".parquet")).sorted
    val out = new File(path)
    deleteTree(out)
    out.mkdirs()
    parts.zipWithIndex.foreach { case (n, i) =>
      Files.move(new File(tmp, n).toPath, new File(out, s"part-$i.parquet").toPath,
        StandardCopyOption.REPLACE_EXISTING)
    }
    deleteTree(tmp)
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
