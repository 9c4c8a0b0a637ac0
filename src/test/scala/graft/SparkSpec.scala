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
  lazy val session: SparkSession = {
    val s = Harness.session(4)
    s.conf.set("spark.sql.legacy.timeParserPolicy", "LEGACY")
    graft.functions.GraftExtensions.register(s)
    s
  }
}
