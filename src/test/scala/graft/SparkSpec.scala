package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  override def afterAll(): Unit = super.afterAll()
}

object SparkSpec {
  /** The production session, with nothing on top: a case that needs
    * more conf scopes it with `Tables.withConf`. */
  lazy val session: SparkSession = Harness.session(4)
}
