package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Guards the single session factory: the suites run on the config
  * production runs, and no hand-copied session builder comes back.
  */
class GraftSessionSpec extends AnyFunSuite {

  test("the test session carries every setting of the production builder") {
    val spark = TestSpark.spark
    val differing = GraftSession.settings(TestSpark.master, TestSpark.shufflePartitions)
      .filterNot { case (k, v) => spark.conf.getOption(k).contains(v) }
    assert(differing.isEmpty, differing.mkString("want: ", ", ", ""))
  }

  test("no SparkSession is built outside GraftSession") {
    val builderCall = """SparkSession\s*\.\s*builder\b""".r
    val offenders = Seq("src/main/scala", "src/test/scala").flatMap { root =>
      val files = Files.walk(Paths.get(root))
      try files.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally files.close()
    }.filterNot(_.getFileName.toString == "GraftSession.scala")
      .filter((p: Path) => builderCall.findFirstIn(Files.readString(p)).isDefined)
    assert(offenders.isEmpty, offenders.mkString("session built outside GraftSession: ", ", ", ""))
  }
}
