package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session: one local SparkSession per suite from the project's
  * session factory (lazy, UTC, 4 cores and 4 shuffle partitions for test
  * speed whatever the machine). */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = Session.local(4)

  val sf: String = "/root/testdata/sf0.001"
}
