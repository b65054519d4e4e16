package graft.perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory

import graft.GraftSession

/** Benchmark entry point: one workload, one seed, one fresh JVM.
  *
  * {{{
  * Main --workload nightly_build|bolt_ingest --seed N
  *      --seconds S --trace 0|1 --work DIR [--tiny] [--corrupt]
  * }}}
  *
  * Prints, as the last stdout line, one JSON object with `correct`,
  * `attempted`, `failed` and `metrics`: the end-to-end metrics with
  * `--trace 0`, the per-layer metrics with `--trace 1`. The full record
  * (every sample, set-up repetition, canary time and, when traced, every
  * span) goes to a JSON sidecar under `DIR/results`. `--seconds` is
  * recorded only: each workload runs a fixed sequence of operations,
  * so a faster program cannot change which operations are sampled.
  * `--tiny` shrinks
  * every input (self-tests); `--corrupt` makes the checks expect a wrong
  * answer, to prove they catch one. Exits non-zero when a check fails.
  */
object Main {
  /** Workload -> scale factor: nightly_build small, so its pass fits a
    * run; bolt_ingest just above 2^20 store rows
    * (GraphStore.BucketProbeRows). */
  val Workloads: Map[String, Double] = Map(
    "nightly_build" -> 0.002,
    "bolt_ingest" -> 0.115)
  val TinySf = 0.0005

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "op_ms.p50" -> "ms", "cached_mb" -> "MB")

  val PerLayer: Seq[(String, String)] = Seq(
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.task_s" -> "s", "spark.driver_s" -> "s", "spark.shuffle_mb" -> "MB",
    "spark.spill_mb" -> "MB", "spark.gc_s" -> "s",
    "domain.assembly_s" -> "s", "export.s" -> "s", "export.mb" -> "MB",
    "graphops.pagerank_s" -> "s", "graphops.cc_s" -> "s", "graphops.kcore_s" -> "s",
    "cypher.parse_ms" -> "ms",
    "store.stmt_ms" -> "ms", "store.fold_stmt_ms" -> "ms",
    "store.match_frac" -> "ratio", "store.rows" -> "count",
    "bolt.pack_ms" -> "ms", "bolt.param_kb" -> "KiB", "bolt.wire_ms" -> "ms",
    "client.build_s" -> "s", "client.analytics_s" -> "s",
    "client.write_ms.p50" -> "ms", "client.write_ms.tail" -> "ms",
    "client.ingest_rows_per_s" -> "1/s",
    "box.canary_s" -> "s", "box.steal_frac" -> "ratio",
    "trace.overhead_frac" -> "ratio")

  /** (total, steal) CPU jiffies of the machine (/proc/stat), read at
    * the start and end of a run: steal is CPU time the hypervisor took
    * from this machine's virtual CPUs. Zeros where the file is absent. */
  def cpuJiffies(): (Long, Long) =
    scala.util.Try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val f = try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
        finally src.close()
      (f.sum, if (f.length > 7) f(7) else 0L)
    }.getOrElse((0L, 0L))

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 1).collect {
      case Array(k, v) if k.startsWith("--") && !v.startsWith("--") => k.drop(2) -> v
    }.toMap
    val flags = args.filter(_.startsWith("--")).map(_.drop(2)).toSet
    def need(k: String) = opts.getOrElse(k, throw new IllegalArgumentException(s"--$k missing"))
    val wl = need("workload")
    require(Workloads.contains(wl),
      s"unknown workload $wl; one of ${Workloads.keys.mkString(", ")}")
    val seed = need("seed").toLong
    val seconds = need("seconds").toDouble
    val traced = need("trace") == "1"
    val tiny = flags("tiny")
    val corrupt = flags("corrupt")
    val work = new File(need("work"))

    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val cpu0 = cpuJiffies()
    val spark = GraftSession.builder(
      master = s"local[${Runtime.getRuntime.availableProcessors()}]").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3

    val runDir = new File(work, s"run-$wl-$seed-${ProcessHandle.current().pid()}")
    Gen.deleteTree(runDir)
    runDir.mkdirs()
    val ctx = new Ctx(spark, seed, traced, runDir,
      countGroup = wl == "nightly_build")
    val sf = if (tiny) TinySf else Workloads(wl)
    val data = new File(runDir, "data").getPath
    val tGen = System.nanoTime()
    val (tables, genS, out) = try {
      val tables = Gen.write(spark, data, seed, sf,
        if (wl == "bolt_ingest") Gen.DemoTables else Gen.AssemblyTables)
      val genS = (System.nanoTime() - tGen) / 1e9
      ctx.canary()
      val out =
        if (wl == "nightly_build") NightlyBuild.run(ctx, data, corrupt)
        else BoltIngest.run(ctx, data, tiny, corrupt)
      ctx.canary()
      (tables, genS, out)
    } finally Gen.deleteTree(runDir)

    val cpu1 = cpuJiffies()
    val stealFrac = (cpu1._2 - cpu0._2).toDouble / math.max(1L, cpu1._1 - cpu0._1)
    if (stealFrac > 0.05)
      System.err.println(f"[perfbench] noisy box: ${stealFrac * 100}%.1f%% of CPU time stolen")
    val e2e: Map[String, Double] = Map(
      "setup_s" -> (sessionS + Stats.median(out.setupS)),
      "op_ms.p50" -> (if (out.opMs.isEmpty) Double.NaN else Stats.median(out.opMs)),
      "cached_mb" -> ctx.cachedMb)
    val layers: Map[String, Double] =
      PerLayer.map { case (n, _) => n -> 0.0 }.toMap ++ out.perLayer ++
        Map("box.canary_s" -> Stats.median(ctx.canaryS.toSeq), "box.steal_frac" -> stealFrac)
    val canarySpread = ctx.canaryS.max / ctx.canaryS.min
    if (canarySpread > 2.0)
      System.err.println(f"[perfbench] noisy box: canary times ${ctx.canaryS.mkString(", ")} s")
    val correct = out.failed == 0 && out.opMs.nonEmpty
    val shown = if (traced) PerLayer else EndToEnd
    val values = if (traced) layers else e2e
    val metrics = shown.map { case (n, u) =>
      n -> Map("value" -> values(n), "unit" -> u) }
    val line = Json(Map(
      "correct" -> correct, "attempted" -> out.attempted, "failed" -> out.failed,
      "metrics" -> scala.collection.immutable.ListMap(metrics: _*)))

    val results = new File(work, "results")
    results.mkdirs()
    val side = new File(results, s"$wl-seed$seed-trace${if (traced) 1 else 0}.json")
    val pw = new PrintWriter(side, "UTF-8")
    try pw.println(Json(Map(
      "workload" -> wl, "seed" -> seed, "seconds" -> seconds, "traced" -> traced,
      "sf" -> sf, "table_rows" -> tables, "generate_s" -> genS,
      "session_s" -> sessionS, "setup_reps_s" -> out.setupS,
      "canary_s" -> ctx.canaryS.toSeq, "canary_spread" -> canarySpread,
      "op_ms" -> out.opMs,
      "timed_s" -> out.timedS, "ops_per_s" -> out.opMs.length / out.timedS,
      "end_to_end" -> e2e, "per_layer" -> layers,
      "detail" -> out.detail,
      "spans" -> ctx.tracer.all.map(s => Map("id" -> s.id, "name" -> s.name,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs, "parent" -> s.parent,
        "op" -> s.op)))))
    finally pw.close()

    spark.stop()
    if (!correct) {
      val why = out.detail.getOrElse("failures", Nil)
      System.err.println(s"[perfbench] checks failed: $why")
    }
    println(line)
    sys.exit(if (correct) 0 else 1)
  }
}
