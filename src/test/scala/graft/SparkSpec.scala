package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all specs (getOrCreate → one session per test JVM). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def sf0001 = "/root/testdata/sf0.001"
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = graft.core.Sessions.afterCreate(
      graft.core.Sessions.builder("4").appName("graft-test").getOrCreate())
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
