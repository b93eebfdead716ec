package graft.tools

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Pins the harness's single points of truth: `graft.Sessions` is the
  * only place a Spark session is built, and OptProbe refuses arguments
  * it would otherwise silently ignore.
  */
class HarnessSpec extends AnyFunSuite {

  /** Source text with block and line comments removed. */
  private def code(src: String): String =
    src
      .replaceAll("(?s)/\\*.*?\\*/", "")
      .replaceAll("//[^\n]*", "")

  private val builderCall = "SparkSession\\s*\\.\\s*builder\\b".r

  test("the guard catches the builder with and without parentheses") {
    val call = "SparkSession" + ".builder" // split so this file passes its own guard
    for (src <- Seq(s"$call().master(m)", s"$call.master(m)", s"SparkSession\n  .builder\n"))
      assert(builderCall.findFirstIn(src).nonEmpty, src)
    assert(builderCall.findFirstIn(code(s"// $call()\n/* $call */ val x = 1")).isEmpty)
  }

  test("only Sessions.scala calls the Spark session builder") {
    val stream = Files.walk(Paths.get("src"))
    val offenders =
      try stream.iterator.asScala
        .filter(p => p.toString.endsWith(".scala"))
        .filterNot(_ == Paths.get("src", "main", "scala", "graft", "Sessions.scala"))
        .filter(p => builderCall.findFirstIn(code(Files.readString(p))).nonEmpty)
        .map(_.toString).toList
      finally stream.close()
    assert(offenders.isEmpty,
      s"build sessions through graft.Sessions.local, not in: ${offenders.mkString(", ")}")
  }

  test("OptProbe accepts only q:<registered query> arguments") {
    val registered = Set("q01_project", "l02_minhash_lsh")
    assert(OptProbe.parseArgs(Seq("q:q01_project", "q:l02_minhash_lsh"), registered) ==
      Right(Seq("q01_project", "l02_minhash_lsh")))
    assert(OptProbe.parseArgs(Nil, registered) == Left(OptProbe.usage))
    for (bad <- Seq("smj_on", "q:no_such_query", "q01_project", "q:"))
      assert(OptProbe.parseArgs(Seq("q:q01_project", bad), registered).isLeft, bad)
  }
}
