package perfbench

import java.time.LocalDateTime

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

class FingerprintSpec extends AnyFunSuite {
  import Fingerprint.canon

  test("numbers: integers exact, floats to ten significant digits, half to even") {
    assert(canon(3) == "i:3" && canon(3L) == "i:3" && canon(3.0) == "f:3.000000000e+00")
    assert(canon(-0.0) == "f:0")
    assert(canon(250196918.25) == "f:2.501969182e+08")
    assert(canon(250196918.75) == "f:2.501969188e+08")
    assert(canon(237819200.0) == canon(237819199.99999997))
    assert(canon(0.1) == "f:1.000000000e-01")
    assert(canon(123456.7890123) == "f:1.234567890e+05")
    assert(canon(new java.math.BigDecimal("2.50")) == "f:2.500000000e+00")
    assert(canon(Double.NaN) == "f:nan")
  }

  test("timestamps as epoch microseconds, dates, arrays, nulls") {
    assert(canon(LocalDateTime.of(1970, 1, 1, 0, 0, 1, 5000)) == "t:1000005")
    assert(canon(java.time.LocalDate.of(1998, 9, 2)) == "d:1998-09-02")
    assert(canon(Seq(1, null, "a")) == "[i:1,n,s:a]")
    assert(canon(null) == "n" && canon(true) == "b:1")
  }

  // the same vector as perfbench/tests/test_analyze.py: the JVM and the
  // DuckDB side of the oracle check must agree on it
  private val names = Seq("b", "a", "ts", "f")
  private val rows = Seq[Seq[Any]](Seq(1, "x", null, 2.5), Seq(7, "yé", null, 1e20),
    Seq(-3, "", null, 0.1))

  test("row and column order do not matter") {
    val perm = Seq(3, 1, 0, 2)
    val fp = Fingerprint.of(names, rows)
    assert(Fingerprint.of(perm.map(names), rows.reverse.map(r => perm.map(r))) == fp)
    assert(Fingerprint.of(names, rows.take(2)) != fp)
    assert(Fingerprint.ofRows(names, rows.map(r => Row.fromSeq(r)).toArray) == fp)
  }

  test("shared vector") {
    assert(Fingerprint.of(names, rows) == "3:4b82cfd74e329bba")
  }
}
