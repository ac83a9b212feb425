package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session fixture: one local session per suite (spark_guide.md). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  val sf: String = "/root/testdata/sf0.001"
}

object SparkSpec {
  /** The oracle-mode (Verify) session at 4 cores. */
  lazy val session: SparkSession = Harness.session(4, bench = false)
}
