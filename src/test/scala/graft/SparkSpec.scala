package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  override def afterAll(): Unit = () // shared session, never stopped mid-suite

  /** Run `body` with every size-adaptive local fast path off, so the
    * operators run their distributed loops (the plans that run at
    * 100 TB); the previous setting is restored afterwards. */
  def withLocalFastPathOff[T](body: => T): T = {
    val prev = spark.conf.getOption(LocalFastPath.EnabledConf)
    spark.conf.set(LocalFastPath.EnabledConf, "false")
    try body
    finally prev.fold(spark.conf.unset(LocalFastPath.EnabledConf))(
      spark.conf.set(LocalFastPath.EnabledConf, _))
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
