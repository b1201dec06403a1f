package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites — the session Verify uses
  * (Sessions.local), at 4 threads and 4 shuffle partitions.
  * One session per JVM; scalatest suites share it.
  */
object SparkSpec {
  // local[4, 2]: 2 task attempts, like a real cluster (default 4) —
  // lets SinkRetrySpec prove exactly-once under task retry; inert for
  // every other suite (their tasks don't fail)
  lazy val spark: SparkSession = Sessions.local("local[4, 2]", 4)
  val sf: String = "/root/testdata/sf0.001"
}

abstract class SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark
  val sf: String = SparkSpec.sf
}
