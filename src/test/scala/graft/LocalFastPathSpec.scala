package graft

import org.apache.spark.sql.Row

/** The local-or-distributed switch: [[LocalFastPath.collect]] hands rows
  * to the in-process path only when the switch is on, the frame is at
  * most `bound` rows, and every row decodes; [[LocalFastPath.admits]]
  * probes the size only when the switch is on.
  */
class LocalFastPathSpec extends SparkSpec {
  import spark.implicits._

  private val bound = 5L
  private def ids(n: Int) = (1L to n.toLong).toDF("id")
  private def decodeId(r: Row): Option[Long] =
    if (r.isNullAt(0)) None else Some(r.getLong(0))

  test("collect: Some at exactly the bound, None at bound + 1") {
    val at = LocalFastPath.collect(ids(bound.toInt), bound)(decodeId)
    assert(at.map(_.toSeq.sorted) == Some(1L to bound))
    assert(LocalFastPath.collect(ids(bound.toInt + 1), bound)(decodeId).isEmpty)
  }

  test("collect: None when the switch is off, even inside the bound") {
    assert(withLocalFastPathOff(
      LocalFastPath.collect(ids(1), bound)(decodeId)).isEmpty)
    // the switch is restored afterwards
    assert(LocalFastPath.collect(ids(1), bound)(decodeId).isDefined)
  }

  test("collect: None when decode rejects a row (a NULL endpoint)") {
    val withNull = Seq(Some(1L), None, Some(3L)).toDF("id")
    assert(LocalFastPath.collect(withNull, bound)(decodeId).isEmpty)
  }

  test("admits: bound inclusive; size not probed when the switch is off") {
    assert(LocalFastPath.admits(spark, bound, bound))
    assert(!LocalFastPath.admits(spark, bound + 1, bound))
    var probed = false
    val off = withLocalFastPathOff(
      LocalFastPath.admits(spark, { probed = true; 0L }, bound))
    assert(!off && !probed)
  }
}
