package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for all suites (one JVM, forked by sbt). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  val sfDir = "/root/testdata/sf0.001"
}

object SparkSpec {
  lazy val session: SparkSession = GraftSession(
    s"spark.hadoop.fs.${SchemeOnlyFs.Scheme}.impl" -> classOf[SchemeOnlyFs].getName,
    s"spark.hadoop.fs.${SchemeOnlyFs.Scheme}.impl.disable.cache" -> "true")
}
