package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites (one JVM-wide SparkSession): the
  * production conf of [[Session]], pinned at 4 cores so partition
  * counts do not vary with the host. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = Session.local(cpus = 4)
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def fixture(name: String): String =
    getClass.getClassLoader.getResource(name).getPath
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  def fixture(name: String): String = TestSpark.fixture(name)
}
