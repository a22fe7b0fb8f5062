package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM-wide session — Spark's
  * getOrCreate makes the suites share it, keeping `sbt test` fast).
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  lazy val sf0001 = "/root/testdata/sf0.001"
}

object SparkSpec {
  lazy val session: SparkSession = GraftSession.create(
    "spark.sql.warehouse.dir" ->
      java.nio.file.Files.createTempDirectory("graft-wh").toString)
}
