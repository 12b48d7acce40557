package perfbench

import java.security.MessageDigest

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {
  private val tables = Gen.schemas.keys.toSeq.sorted
  private val sizes = Gen.Sizes(0.0005)

  /** SHA-256 over every generated row of every table, in order. */
  private def digest(seed: Long): String = {
    val md = MessageDigest.getInstance("SHA-256")
    tables.foreach { t =>
      (0L until Gen.sourceRows(t, sizes)).foreach { i =>
        Gen.rowsOf(t, seed, sizes, i).foreach { r =>
          md.update((t + "|" + Fingerprint.canon(r) + "\n").getBytes("UTF-8"))
        }
      }
    }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  test("the same seed gives identical inputs, another seed different ones") {
    assert(digest(1) == digest(1))
    assert(digest(1) != digest(2))
  }

  test("rows match their table's schema and keys are unique") {
    tables.foreach { t =>
      val rows = (0L until Gen.sourceRows(t, sizes)).flatMap(i => Gen.rowsOf(t, 7, sizes, i))
      assert(rows.nonEmpty, t)
      rows.foreach(r => assert(r.length == Gen.schemas(t).length, t))
    }
    val lineKeys = (0L until sizes.orders).flatMap(o =>
      Gen.lines(7, sizes, o).map(r => (r.getLong(0), r.getInt(3))))
    assert(lineKeys.distinct.length == lineKeys.length)
  }

  test("documents carry near-duplicates of earlier documents") {
    val texts = (0L until 2000L).map(i => Gen.text(3, i))
    assert(texts.distinct.length < texts.length)
    assert(texts.forall(_.split(" ").length >= 8))
  }
}
