package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session: one JVM-wide SparkSession for all suites (local[4]). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  val sf: String = "/root/testdata/sf0.001"

  /** Run `f` with the session conf `key` set to `value`, restoring it. */
  protected def withConf[T](key: String, value: String)(f: => T): T = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try f finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = GraftSession.local("4").appName("graft-test").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
