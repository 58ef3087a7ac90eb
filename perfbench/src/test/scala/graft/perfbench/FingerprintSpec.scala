package graft.perfbench

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

class FingerprintSpec extends AnyFunSuite {
  private val rows = Seq(
    Row(1L, "a", 1.5, Seq(1, 2)),
    Row(2L, "b", 2.25, Seq(3)),
    Row(3L, null, -0.0, Nil))
  private def fp(rs: Seq[Row]) = Fingerprint.of(rs.iterator)

  test("row order does not change the fingerprint") {
    assert(fp(rows) == fp(rows.reverse))
    assert(fp(rows) == fp(Seq(rows(1), rows(2), rows(0))))
  }

  test("one changed cell changes the fingerprint") {
    val base = fp(rows)
    assert(fp(rows.updated(0, Row(1L, "a", 1.5000001, Seq(1, 2)))) != base)
    assert(fp(rows.updated(1, Row(2L, "c", 2.25, Seq(3)))) != base)
    assert(fp(rows.updated(1, Row(2L, "b", 2.25, Seq(4)))) != base)
    assert(fp(rows.updated(2, Row(3L, "", -0.0, Nil))) != base)
  }

  test("duplicate and missing rows count") {
    assert(fp(rows :+ rows(0)).rows == 4)
    assert(fp(rows :+ rows(0)) != fp(rows))
    assert(fp(rows.tail) != fp(rows))
  }

  test("last-bit float noise and the sign of zero do not count") {
    val sum1 = 0.1 + 0.2 + 0.3
    val sum2 = 0.3 + 0.2 + 0.1
    assert(sum1 != sum2)
    assert(fp(Seq(Row(sum1))) == fp(Seq(Row(sum2))))
    assert(fp(Seq(Row(-0.0))) == fp(Seq(Row(0.0))))
  }

  test("the rendered form carries the row count") {
    assert(fp(rows).render.startsWith("3:"))
  }
}
