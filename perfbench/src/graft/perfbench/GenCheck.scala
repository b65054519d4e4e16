package graft.perfbench

import java.io.File
import java.nio.file.Files
import java.security.MessageDigest

import graft.GraftSession

/** Generator determinism check (self-test): writes the tables of a tiny
  * scale twice with one seed and once with another, and prints whether
  * the same seed gave byte-identical files and the other seed different
  * ones. `GenCheck <work dir>`. */
object GenCheck {
  private def digest(dir: File): Map[String, String] = {
    def files(f: File): Seq[File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(files) else Seq(f)
    files(dir).filter(_.getName.endsWith(".parquet")).map { f =>
      val md = MessageDigest.getInstance("SHA-256")
      dir.toPath.relativize(f.toPath).toString ->
        md.digest(Files.readAllBytes(f.toPath)).map("%02x".format(_)).mkString
    }.toMap
  }

  def main(args: Array[String]): Unit = {
    val root = new File(args(0), s"gencheck-${ProcessHandle.current().pid()}")
    val spark = GraftSession.builder(master = "local[2]").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tables = Gen.AssemblyTables ++ Gen.DemoTables
    val runs = Seq("a" -> 7L, "b" -> 7L, "c" -> 8L).map { case (name, seed) =>
      val d = new File(root, name)
      Gen.write(spark, d.getPath, seed, Main.TinySf, tables)
      digest(d)
    }
    spark.stop()
    Gen.deleteTree(root)
    val Seq(a, b, c) = runs
    println(Json(Map(
      "files" -> a.size,
      "same_seed_identical" -> (a.nonEmpty && a == b),
      "other_seed_differs" -> (a.keySet == c.keySet && a != c))))
  }
}
