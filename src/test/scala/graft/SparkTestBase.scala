package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for the whole test JVM (Test/fork := true). */
object SparkTestBase {
  lazy val spark: SparkSession = {
    val s = SparkSessions.builder("local[8]", 8).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  val sf0001 = "/root/testdata/sf0.001"
  val sf001 = "/root/testdata/sf0.01"
}

abstract class SparkSuite extends AnyFunSuite {
  def spark: SparkSession = SparkTestBase.spark
  def sf0001: String = SparkTestBase.sf0001
  def sf001: String = SparkTestBase.sf001
}
