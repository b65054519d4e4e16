package graft.perfbench

import java.io.File

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Queries6
import graft.sources.Tables
import graft.operators.{GraphExport, GraphOps}

/** The reference's nightly batch plus the north-star analytics, on one
  * driver thread: assemble the 27-label graph, gate and export it, then
  * run converged PageRank, connected components and k-core on the
  * read-back edges. One operation = one whole pass. */
object NightlyBuild {
  val Tol = 1e-6
  val K = 2

  /** One pass's outputs, kept for the checks after it. */
  final case class Pass(nV: Long, nE: Long, readV: DataFrame, readE: DataFrame,
                        edges: DataFrame, ranks: DataFrame, comp: DataFrame,
                        core: DataFrame, buildS: Double, analyticsS: Double)

  def pass(ctx: Ctx, dir: String, exportRoot: String): Pass = {
    val s = ctx.spark
    val tr = ctx.tracer
    val t0 = System.nanoTime()
    val (v, e, nV, nE) = tr.span("domain.assembly") {
      val (v, e) = Queries6.assembledGraph(s, dir)
      (v, e, v.count(), e.count())
    }
    val tA = System.nanoTime()
    val (rv, re) = tr.span("export") {
      GraphExport.exportGraph(s, v, e, exportRoot)
    }
    val t1 = System.nanoTime()
    val edges = re.select(col("src"), col("dst"))
    val ranks = tr.span("graphops.pagerank") {
      val r = GraphOps.pageRankConverged(edges, tol = Tol); r.count(); r
    }
    val tP = System.nanoTime()
    val comp = tr.span("graphops.cc") {
      val c = GraphOps.connectedComponentsConverged(edges); c.count(); c
    }
    val tC = System.nanoTime()
    val core = tr.span("graphops.kcore") {
      val k = GraphOps.kCoreConverged(edges, K); k.count(); k
    }
    val t2 = System.nanoTime()
    ctx.log(f"pass: build ${(t1 - t0) / 1e9}%.2f s, analytics ${(t2 - t1) / 1e9}%.2f s " +
      f"(assembly ${(tA - t0) / 1e9}%.2f, pagerank ${(tP - t1) / 1e9}%.2f, " +
      f"cc ${(tC - tP) / 1e9}%.2f, kcore ${(t2 - tC) / 1e9}%.2f)")
    Pass(nV, nE, rv, re, edges, ranks, comp, core, (t1 - t0) / 1e9, (t2 - t1) / 1e9)
  }

  /** Fixpoint certificates and round-trip counts: the failures found. */
  def check(p: Pass): Seq[String] = {
    val bad = ArrayBuffer.empty[String]
    val rv = p.readV.count()
    val re = p.readE.count()
    if (rv != p.nV || re != p.nE)
      bad += s"export read-back ($rv, $re) != assembled (${p.nV}, ${p.nE})"
    val nVerts = p.edges.select(col("src").as("id"))
      .union(p.edges.select(col("dst").as("id"))).distinct().count()
    def certified(name: String, cert: DataFrame): Unit = {
      val row = cert.agg(count(lit(1)),
        sum(when(col("converged"), 0L).otherwise(1L))).head()
      if (row.getLong(0) != nVerts || row.getLong(1) != 0L)
        bad += s"$name certificate: ${row.getLong(0)} rows of $nVerts " +
          s"vertices, ${row.get(1)} unconverged"
    }
    certified("pagerank", GraphOps.pageRankCertificate(p.edges, p.ranks, Tol))
    certified("cc", GraphOps.connectedComponentsCertificate(p.edges, p.comp))
    val kc = GraphOps.kCoreCertificate(p.edges, p.core, K).head()
    if (kc.getAs[Long]("n_vertices") != nVerts ||
        kc.getAs[Long]("n_below_k") != 0L || kc.getAs[Long]("n_deg_mismatch") != 0L)
      bad += s"kcore certificate: $kc"
    bad.toSeq
  }

  /** The job runs exactly once per JVM, as the reference's nightly run
    * does, so the measured pass is the cold one: JIT and codegen warm-up
    * are part of what every nightly run pays. Its set-up is what the job does
    * before its first stage — the session (timed by the caller) and
    * registering the input tables — repeated three times. */
  def run(ctx: Ctx, dir: String, corrupt: Boolean): Outcome = {
    val exportRoot = new File(ctx.work, "export").getPath
    val setups = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      Gen.AssemblyTables.foreach(t => Tables.read(ctx.spark, dir, t).schema)
      (System.nanoTime() - t0) / 1e9
    }
    val ops = ArrayBuffer.empty[Pass]
    var attempted, failed = 0L
    val failures = ArrayBuffer.empty[String]
    var exportMb = 0.0
    // one pass: timed; then, untimed, its checks and the cache release
    def op(): Double = {
      attempted += 1
      ctx.tracer.beginOp(attempted)
      val t0 = System.nanoTime()
      val res = try Right(ctx.timed(pass(ctx, dir, exportRoot)))
        catch { case scala.util.control.NonFatal(e) => Left(e.toString) }
      val dt = (System.nanoTime() - t0) / 1e9
      ctx.sampleCache()
      val bad = res match {
        case Right(p) =>
          exportMb = Stats.dirBytes(new File(exportRoot)) / 1e6
          val b = check(if (corrupt) p.copy(nE = p.nE + 1) else p)
          if (b.isEmpty) ops += p
          b
        case Left(err) => Seq(err)
      }
      if (bad.nonEmpty) { failed += 1; failures ++= bad }
      ctx.release()
      dt
    }
    val (timedS, counters) = ctx.window(op())
    val all = ops.toSeq
    def spanS(name: String) =
      ctx.tracer.named(name).map(_.ms / 1e3).sum / math.max(1, attempted)
    val layers =
      if (!ctx.traced) Map.empty[String, Double]
      else counters ++ Map(
        "domain.assembly_s" -> spanS("domain.assembly"),
        "export.s" -> spanS("export"),
        "export.mb" -> exportMb,
        "graphops.pagerank_s" -> spanS("graphops.pagerank"),
        "graphops.cc_s" -> spanS("graphops.cc"),
        "graphops.kcore_s" -> spanS("graphops.kcore"),
        "client.build_s" -> Stats.medianOrZero(all.map(_.buildS)),
        "client.analytics_s" -> Stats.medianOrZero(all.map(_.analyticsS)))
    Outcome(
      setupS = setups,
      opMs = all.map(p => (p.buildS + p.analyticsS) * 1e3),
      timedS = timedS,
      attempted = attempted,
      failed = failed,
      perLayer = layers,
      detail = Map(
        "build_s" -> all.map(_.buildS),
        "analytics_s" -> all.map(_.analyticsS),
        "graph_rows" -> all.headOption.map(p => p.nV + p.nE).getOrElse(0L),
        "export_mb" -> exportMb,
        "failures" -> failures.toSeq))
  }
}
