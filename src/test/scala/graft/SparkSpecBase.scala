package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs: tiny parallelism, UTC, AQE on. */
trait SparkSpecBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpecBase.session
  override def afterAll(): Unit = () // session shared across suites
}

object SparkSpecBase {
  lazy val session: SparkSession = {
    val s = Sessions.local(4, 4)
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
