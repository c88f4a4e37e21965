package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for specs, from [[GraftSession]]. sf0.001
  * testdata keeps suites fast.
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  val sfDir = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkSpec.session

  override def afterAll(): Unit = () // shared session: do not stop
}

object SparkSpec {
  // Four cores whatever the host, so suite runtime and plan shapes do not
  // depend on the machine.
  lazy val session: SparkSession = GraftSession.local(4)
}
