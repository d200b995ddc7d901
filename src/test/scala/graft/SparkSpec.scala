package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for specs, built like the command-line mains'
  * ([[LocalSession]]). One session per suite (Spark reuses the underlying
  * context across suites in the same JVM via getOrCreate).
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = LocalSession.builder()
    .appName("graft-test")
    .config("spark.sql.extensions", "graft.GraftExtensions")
    .getOrCreate()

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.sparkContext.setLogLevel("WARN")
  }
}
