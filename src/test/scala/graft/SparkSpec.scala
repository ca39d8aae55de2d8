package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites (one JVM-wide SparkSession), built
  * by [[GraftSession.local]] so the specs run the engine's recipe: the
  * codegen cache, AQE and scan settings production runs.
  */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = GraftSession.local(4, appName = "graft-test")
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  val sfDir = "/root/testdata/sf0.001"
}
