package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local session for specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString
}

object SparkSpec {
  /** Four cores whatever SPARK_GRAFT_CPUS says, so specs see the same
    * partitioning on every host.
    */
  lazy val session: SparkSession =
    Sessions.local("4").appName("graft-test").getOrCreate()
}
