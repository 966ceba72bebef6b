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
  def withLocalFastPathOff[T](body: => T): T =
    SparkSpec.withConfs(LocalFastPath.EnabledConf -> "false")(body)
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

  /** Run `body` with a fresh directory under `java.io.tmpdir` (named
    * `prefix` plus a random suffix), deleted recursively afterwards,
    * also when `body` throws. A streaming query writing there must stop
    * inside `body`. */
  def withTempDir[T](prefix: String)(body: String => T): T = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toFile
    try body(dir.getPath)
    finally org.apache.commons.io.FileUtils.deleteQuietly(dir)
  }

  /** Run `body` with the given session confs set; each previous value
    * (or its absence) is restored afterwards. */
  def withConfs[T](confs: (String, String)*)(body: => T): T = {
    val conf = session.conf
    val prev = confs.map { case (k, _) => k -> conf.getOption(k) }
    confs.foreach { case (k, v) => conf.set(k, v) }
    try body
    finally prev.foreach { case (k, v) => v.fold(conf.unset(k))(conf.set(k, _)) }
  }
}
