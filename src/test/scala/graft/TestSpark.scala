package graft

import org.apache.spark.sql.SparkSession
import graft.functions.F

/** One shared local session for all suites (started lazily, never stopped
  * mid-run — Spark local sessions are process-wide). The engine's function
  * surface is registered on it once, when it is built, so no test does. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    F.ensureRegistered(s)
    s
  }

  val SfSmall = "/root/testdata/sf0.001"

  /** Runs `body` with one session SQL setting changed, then restores it. */
  def withConf[T](key: String, value: String)(body: => T): T = {
    val before = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }
}
