package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session (one per test JVM) built by the same factory as
  * Verify/Bench — including GraftExtensions (the parser extension in
  * particular cannot be added post-hoc, so the QUALIFY frontend is only
  * testable when the FIRST session of the JVM carries it). Four cores
  * and no stage dir, like the correctness gate. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession(cpus = 4)

  val sf: String = "/root/testdata/sf0.001"
}
