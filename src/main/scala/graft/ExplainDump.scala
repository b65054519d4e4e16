package graft

/** Plan dumper for the optimization rounds:
  * `runMain graft.ExplainDump <outDir> <query>[,<query>...]`
  * writes `<outDir>/<query>.txt` with the `.explain("formatted")`
  * output of each named catalog entry. The committed dumps let a
  * reader check plan claims in OPTIMIZATION_r*.md against the recorded
  * plans without re-running Spark (producing a dump of course runs a session here —
  * and entries built on eager persist/localCheckpoint loops execute
  * their iterative jobs during DataFrame construction).
  *
  * Any stale `<query>.txt` is deleted BEFORE the dump is attempted, so
  * a failed re-dump can never leave a prior run's plan posing as
  * current evidence (r16 advisor note).
  */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val names: Seq[String] =
      if (args.length > 1) args(1).split(",").toSeq.filter(_.nonEmpty)
      else SparkEntry.benchQueries.keys.toSeq.sorted
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.fromEnv()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { n =>
      SparkEntry.queries.get(n) match {
        case None => System.err.println(s"[explain] no such query: $n")
        case Some(fn) =>
          try {
            java.nio.file.Files.deleteIfExists(
              java.nio.file.Paths.get(outDir, s"$n.txt"))
            val df = fn(spark, sfDir)
            val txt = df.queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode)
            java.nio.file.Files.write(
              java.nio.file.Paths.get(outDir, s"$n.txt"),
              txt.getBytes("UTF-8"))
            println(s"[explain] wrote $outDir/$n.txt")
          } catch {
            case e: Throwable =>
              System.err.println(s"[explain] $n failed: $e")
          } finally {
            graft.operators.CacheScope.global.release()
          }
      }
    }
    spark.stop()
  }
}
