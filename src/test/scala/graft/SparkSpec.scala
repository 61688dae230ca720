package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for unit specs: a small local[2] session
  * from the same factory as every graft session, so specs run the
  * served dialect whatever order they run in. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  override def afterAll(): Unit = () // shared session; never stop it here
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = Sessions.build("graft-test", cores = 2)
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
