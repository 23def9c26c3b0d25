package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM under Test/fork). */
object TestSession {
  lazy val spark: SparkSession = graft.Session.builder(4)
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft_test_wh").toString)
    .appName("graft-tests")
    .getOrCreate()
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSession.spark
  val Sf0001 = "/root/testdata/sf0.001"
}
