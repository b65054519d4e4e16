package graft.perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.functions._

import graft.Queries54
import graft.cypher.{BoltQueryServer, CypherParser, GraphStore, PropertyGraph}
import graft.sinks.bolt.PackStream

/** Write-heavy Bolt ingest: one connection, closed loop, sending the
  * projector-shaped statement pair of the reference's batcher — a
  * 1000-row `UNWIND $rows MERGE (o:Order {k}) SET …` and its
  * relationship MERGE — into a demo store seeded ABOVE
  * `GraphStore.BucketProbeRows`, so the bucket-pruned probe and the
  * segment-collapse fold run. A seed-fixed share of every batch
  * re-delivers keys the store already holds (see [[WindowDays]]). One
  * operation = one batch (both statements). */
object BoltIngest {
  val BatchRows = 1000
  /** The reference's default processing window is 83 days
    * (`--start 2025-06-01 --end 2025-08-22`). A nightly run whose window
    * ends one day after the previous run's re-delivers 82 of its 83
    * days, so a row is fresh with probability 1/83. That the window
    * slides by one day per run is an assumption: the reference has no
    * scheduler that says so. */
  val WindowDays = 83
  val NodeStmt = "UNWIND $rows AS r MERGE (o:Order {k: r.k}) " +
    "SET o.orderstatus = r.status, o.totalprice = r.price"
  val RelStmt =
    "UNWIND $rows AS r MERGE (c:Customer {k: r.ck})-[:PLACED]->(o:Order {k: r.k})"
  val LabelKeys: Map[String, Seq[String]] = Seq("Customer", "Order", "Part",
    "Nation", "Region").map(_ -> Seq("k")).toMap

  /** One generated batch, `fresh` of whose rows carry new keys, and the
    * MERGE statistics it must produce (a statement counts each distinct
    * node or relationship once). */
  final case class Batch(rows: Seq[Map[String, Any]], fresh: Int) {
    def params: Map[String, Any] = Map("rows" -> rows)
    private val keys = rows.map(_("k")).distinct.length.toLong
    def expectNode: Map[String, Long] = Map(
      "nodes-created" -> fresh.toLong, "nodes-matched" -> (keys - fresh))
    def expectRel: Map[String, Long] = Map(
      "nodes-created" -> 0L,
      "nodes-matched" -> (keys + rows.map(_("ck")).distinct.length),
      "relationships-created" -> fresh.toLong,
      "relationships-matched" -> (keys - fresh))
  }

  /** The seeded batch stream over the generated orders table: fresh rows
    * take keys past the table's, re-delivered rows replay existing
    * orders with their own customer (so their PLACED edge exists). */
  final class Stream(orders: Array[(Long, Long)], customers: Long, seed: Long) {
    private val rnd = new scala.util.Random(seed)
    // re-delivered keys walk a seeded permutation of the table's orders
    // (cycling: small scales re-deliver more rows than the table holds)
    private val pool = Iterator.continually(rnd.shuffle(orders.toSeq)).flatten
    private var nextKey = orders.map(_._1).max + 1
    def next(): Batch = {
      val rows = (0 until BatchRows).map { _ =>
        val re = rnd.nextInt(WindowDays) != 0
        val (k, ck) = if (re) pool.next() else {
          nextKey += 1; (nextKey - 1, (rnd.nextLong() & Long.MaxValue) % customers)
        }
        Map[String, Any]("k" -> k, "ck" -> ck,
          "status" -> Seq("O", "F", "P")(rnd.nextInt(3)),
          "price" -> rnd.nextInt(50000000) / 100.0, "re" -> re)
      }
      Batch(rows.map(_ - "re"), rows.count(_("re") == false))
    }
  }

  /** One Bolt statement as sent: kept for the in-process replay. */
  final case class Stmt(op: Long, cypher: String, params: Map[String, Any])

  /** Write-statement ordinals (1-based, per store) that run a fold:
    * `GraphStore` compacts after every 8th write. */
  def isFold(ordinal: Long): Boolean = ordinal % 8 == 0

  /** In-process replay of a statement stream on a same-seed store (no
    * wire): times each statement's parse and its apply, splitting plain
    * statements from the ones that run the store's fold. */
  final class Replay(store: GraphStore) {
    private var writes = 0L
    val parseMs, stmtMs, foldMs = ArrayBuffer.empty[Double]
    val opMs = scala.collection.mutable.Map.empty[Long, Double]

    def apply(s: Stmt, record: Boolean): Unit = {
      val t0 = System.nanoTime()
      CypherParser.parseAny(s.cypher)
      val t1 = System.nanoTime()
      store.execute(s.cypher, s.params)
      val t2 = System.nanoTime()
      writes += 1
      if (record) {
        parseMs += (t1 - t0) / 1e6
        (if (isFold(writes)) foldMs else stmtMs) += (t2 - t1) / 1e6
        opMs(s.op) = opMs.getOrElse(s.op, 0.0) + (t2 - t1) / 1e6
      }
    }
  }

  private def rows(pg: PropertyGraph): Long = pg.vertices.count() + pg.edges.count()

  private def stat(st: Map[String, Long], k: String): Long = st.getOrElse(k, 0L)

  /** `tiny` (self-tests) waives the store-size requirement. */
  def run(ctx: Ctx, dir: String, tiny: Boolean, corrupt: Boolean): Outcome = {
    val s = ctx.spark
    val orders = s.read.parquet(s"$dir/orders.parquet")
      .select(col("o_orderkey"), col("o_custkey")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val customers = s.read.parquet(s"$dir/customer.parquet").count()
    // set-up: seed the store from `Queries54.demoGraph`, materialized
    // once (a long-lived store holds its graph in memory), then one warm
    // batch, which also builds the store's probe index
    val t0 = System.nanoTime()
    val pg = {
      val g = Queries54.demoGraph(s, dir)
      PropertyGraph(g.vertices.localCheckpoint(), g.edges.localCheckpoint())
    }
    val storeRows0 = rows(pg)
    // the seeded store's blocks are the harness's: cached_mb counts
    // only what the engine stores beyond them
    ctx.cacheBaseline()
    require(tiny || storeRows0 > GraphStore.BucketProbeRows,
      s"seeded store ($storeRows0 rows) must exceed " +
      s"GraphStore.BucketProbeRows (${GraphStore.BucketProbeRows})")
    val store = new GraphStore(pg, LabelKeys)
    val srv = new BoltQueryServer(store)
    val client = new WireClient(srv.host, srv.port)
    try {
      val stream = new Stream(orders, customers, ctx.seed)
      val warm = stream.next()
      Seq(NodeStmt, RelStmt).foreach(q => client.run(q, warm.params))
      val setupS = (System.nanoTime() - t0) / 1e9
      ctx.sampleCache()

      var fresh = warm.fresh.toLong
      var attempted, failed = 0L
      var created, matched = 0L
      val failures = ArrayBuffer.empty[String]
      val ops = ArrayBuffer.empty[(Long, Double)] // (op id, ms) of passed ops
      val stmtMs = ArrayBuffer.empty[Double] // statements of passed ops
      val sent = ArrayBuffer.empty[Stmt]
      val packs = ArrayBuffer.empty[(Int, Double)] // (bytes, ms) per param map
      var last = warm
      var writes = 2L
      var folded = false
      // one batch: node MERGE then relationship MERGE, timed together;
      // `again` re-delivers the previous batch whole
      def op(again: Boolean): Double = {
        attempted += 1
        ctx.tracer.beginOp(attempted)
        val b = if (again) last.copy(fresh = 0) else stream.next()
        last = b
        val stmts = Seq(NodeStmt, RelStmt).map(q => Stmt(attempted, q, b.params))
        sent ++= stmts
        folded = stmts.map { _ => writes += 1; isFold(writes) }.contains(true)
        val each = ArrayBuffer.empty[Double]
        val t0 = System.nanoTime()
        val res = try Right(stmts.map { st =>
            val ts = System.nanoTime()
            val r = ctx.tracer.span(if (st.cypher == NodeStmt) "bolt.node" else "bolt.rel") {
              client.run(st.cypher, st.params)
            }
            each += (System.nanoTime() - ts) / 1e6
            r
          })
          catch { case scala.util.control.NonFatal(e) => Left(e.toString) }
        val ms = (System.nanoTime() - t0) / 1e6
        ctx.sampleCache()
        if (ctx.traced) {
          val tp = System.nanoTime()
          val n = PackStream.pack(b.params).length
          packs += n -> (System.nanoTime() - tp) / 1e6
        }
        val bad = res match {
          case Right(rs) =>
            rs.zip(Seq(b.expectNode, b.expectRel)).flatMap { case (r, e0) =>
              val e = if (corrupt) e0.updated("nodes-matched", e0("nodes-matched") + 1) else e0
              e.collect { case (k, v) if stat(r.stats, k) != v =>
                s"$k: got ${stat(r.stats, k)}, want $v" }
            }
          case Left(err) =>
            client.reset(); Seq(err)
        }
        // an applied batch lands in the store even when a statistic
        // is off: the final count check follows the store
        res.foreach { rs =>
          fresh += b.fresh
          rs.headOption.foreach { r =>
            created += stat(r.stats, "nodes-created")
            matched += stat(r.stats, "nodes-matched")
          }
        }
        if (bad.isEmpty) { ops += attempted -> ms; stmtMs ++= each }
        else { failed += 1; failures ++= bad }
        ms / 1e3
      }
      // the window runs batches until the one whose statement runs the
      // store's 8-statement fold, then re-delivers that batch whole (it
      // must create nothing): a fixed mix of two plain batches, the
      // folding batch and the re-delivery
      val (timedS, counters) = ctx.window {
        var t = 0.0
        while ({ t += op(again = false); !folded }) ()
        t + op(again = true)
      }

      // check, outside the window: the store holds exactly the seeded
      // orders plus the fresh keys
      val g = store.graph
      val nOrders = g.vertices.filter(col("label") === "Order").count()
      val nPlaced = g.edges.filter(col("rel") === "PLACED").count()
      val want = orders.length + fresh
      if (nOrders != want || nPlaced != want) {
        failures += s"store holds $nOrders orders / $nPlaced PLACED, want $want"
        failed += 1
      }

      val stmtAll = stmtMs.toSeq
      val rowsPerS = ops.length * BatchRows / math.max(1e-9, timedS)
      val tail = if (stmtAll.isEmpty) 0.0 else Stats.tail(stmtAll)
      val layers =
        if (!ctx.traced) Map.empty[String, Double]
        else {
          // in-process replay of the same statement stream on a
          // same-seed store: splits parse and apply from the wire
          val replay = new Replay(new GraphStore(pg, LabelKeys))
          Seq(NodeStmt, RelStmt).foreach(q => replay(Stmt(0L, q, warm.params), record = false))
          sent.foreach(replay(_, record = true))
          val wire = ops.flatMap { case (id, ms) => replay.opMs.get(id).map(ms - _) }
          def med(xs: Iterable[Double]) = Stats.medianOrZero(xs.toSeq)
          counters ++ Map(
            "cypher.parse_ms" -> med(replay.parseMs),
            "store.stmt_ms" -> med(replay.stmtMs),
            "store.fold_stmt_ms" -> med(replay.foldMs),
            "store.match_frac" -> matched.toDouble / math.max(1L, created + matched),
            "store.rows" -> rows(store.graph).toDouble,
            "bolt.wire_ms" -> med(wire),
            "bolt.pack_ms" -> med(packs.map(_._2)),
            "bolt.param_kb" -> med(packs.map(_._1 / 1024.0)),
            "client.write_ms.p50" -> Stats.medianOrZero(stmtAll),
            "client.write_ms.tail" -> tail,
            "client.ingest_rows_per_s" -> rowsPerS)
        }
      Outcome(
        setupS = Seq(setupS),
        opMs = ops.map(_._2).toSeq,
        timedS = timedS,
        attempted = attempted,
        failed = failed,
        perLayer = layers,
        detail = Map(
          "store_rows_seeded" -> storeRows0,
          "bucket_probe_rows" -> GraphStore.BucketProbeRows,
          "batch_rows" -> BatchRows,
          "statement_ms" -> stmtAll,
          "write_ms_p50" -> Stats.medianOrZero(stmtAll),
          "write_ms_tail" -> tail,
          "write_tail_pct" -> Stats.tailPct(stmtAll.length),
          "ingest_rows_per_s" -> rowsPerS,
          "failures" -> failures.toSeq))
    } finally {
      client.close()
      srv.close()
    }
  }
}
