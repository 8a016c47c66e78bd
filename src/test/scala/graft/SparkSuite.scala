package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs — built by [[GraftSession]], as
  * the Verify harness's is, so tests see the behavior Verify sees. */
trait SparkSuite extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSuite.session

  override def afterAll(): Unit = super.afterAll()

  def sf0001 = "/root/testdata/sf0.001"
}

object SparkSuite {
  lazy val session: SparkSession = GraftSession(4)
}
